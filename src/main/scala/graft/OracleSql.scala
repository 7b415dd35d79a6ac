package graft

/** DuckDB oracle SQL for every entry in [[SparkEntry.queries]].
  *
  * Dialect notes (SURVEY.md §7.5):
  *  - DuckDB `regexp_replace` replaces only the FIRST match unless the 'g'
  *    flag is passed — Spark always replaces all, so every replace here
  *    carries 'g'.
  *  - Sums over doubles are cast to DECIMAL per row first: decimal
  *    addition is exact/associative, so aggregation order can't differ.
  *  - Integer sums are cast to BIGINT (DuckDB widens to HUGEINT).
  *  - Every query ends in a total ORDER BY matching the Spark side.
  */
object OracleSql {

  /** Seeded sign-LSH bucket expression in DuckDB SQL: for each bit the
    * md5-seeded ±1 hyperplane literals are generated from the SAME
    * derivation as [[graft.operators.Similarity.planeSign]] (+1 iff the
    * first hex nibble of md5("bit:dim") is odd), so engine and oracle
    * evaluate the identical projection. Decimal-exact accumulation
    * mirrors DecimalDot (per-product DECIMAL(30,12) cast, exact sum).
    */
  /** One seeded-hyperplane projection (bit `i`) as a decimal-exact sum. */
  private def seededProjExpr(i: Int, dim: Int, vec: String): String = {
    val signs = (1 to dim)
      .map(j => if (graft.operators.Similarity.planeSign(i, j) > 0) "1.0"
                else "-1.0")
      .mkString("[", ",", "]")
    s"list_aggregate(list_transform(generate_series(1, $dim), " +
      s"j -> CAST(CAST($vec[j] AS DOUBLE) * ($signs)[j] " +
      "AS DECIMAL(30,12))), 'sum')"
  }

  /** `offset` selects a table of an OR-amplified family: table t passes
    * offset = t·nBits, mirroring [[graft.operators.Similarity.signBucketTable]]. */
  private def seededBucketSql(nBits: Int, dim: Int, vec: String,
      offset: Int = 0): String =
    (0 until nBits)
      .map(i => s"CASE WHEN ${seededProjExpr(offset + i, dim, vec)} >= 0 " +
        "THEN '1' ELSE '0' END")
      .mkString("(", " || ", ")")

  /** OR-amplified LSH candidate CTEs over a base CTE `n` carrying
    * (vec_id, embedding, n2): per-table bucket rows for all vectors
    * (UNION ALL over tables — one SELECT per table, each bucket a
    * single-line CASE chain so stripMargin is safe), candidates deduped
    * per (query, neighbor) pair before scoring, exactly like
    * [[graft.operators.Similarity.orLshTopK]].
    */
  private def orLshCtes(nBits: Int, dim: Int, nTables: Int,
      p: String = "or_"): String = {
    val tables = (0 until nTables).map { t =>
      val b = seededBucketSql(nBits, dim, "embedding", offset = t * nBits)
      s"  SELECT vec_id, $t AS tbl, $b AS bucket FROM n"
    }.mkString("\n  UNION ALL\n")
    s"""${p}bt AS (
       |$tables),
       |${p}cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM ${p}bt q JOIN ${p}bt c
       |    ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |${p}sc AS (
       |  SELECT d.query_id, d.neighbor_id,
       |    CAST(${dotSql("q.embedding", "c.embedding")} AS DOUBLE) /
       |      (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS cos
       |  FROM ${p}cand d
       |  JOIN n q ON q.vec_id = d.query_id
       |  JOIN n c ON c.vec_id = d.neighbor_id)""".stripMargin
  }

  /** Pair-budget width CTEs over a corpus CTE `src` carrying `vec` —
    * the integer-exact replay of Similarity.pairBudgetSignBits: the
    * full-width TABLE-0 bucket histogram (blocks at plane offsets
    * 0, nTables·16 — signBucketWide's table-0 layout), per-width
    * Σ(prefix-count)² via one widths cross join over the DISTINCT
    * buckets, and `params(nb)` = GREATEST of the occupancy ladder
    * (smallest w with 2^w·2 ≥ n — the buckets-∝-n floor on flat
    * corpora) and the smallest w in [8, maxBits] with Σc² ≤
    * pairBudget·n, else maxBits. Yields CTEs pbn, pbc, pbs, params. */
  private def pairBudgetParamsCtes(src: String, vec: String, dim: Int,
      nTables: Int, pairBudget: Long = 32L, maxBits: Int = 32): String = {
    val blocks = (0 until maxBits / 16)
      .map(b => seededBucketSql(16, dim, vec, offset = b * nTables * 16))
      .mkString("(", " || ", ")")
    s"""pbn AS (
       |  SELECT $blocks AS b32 FROM $src),
       |pbc AS (SELECT b32, count(*) AS c FROM pbn GROUP BY b32),
       |pbs AS (
       |  SELECT w, sum(pc * pc) AS s, sum(pc) AS n FROM (
       |    SELECT ws.w AS w, substr(pbc.b32, 1, ws.w) AS p, sum(pbc.c) AS pc
       |    FROM pbc CROSS JOIN
       |      (SELECT unnest(generate_series(8, $maxBits)) AS w) ws
       |    GROUP BY ws.w, substr(pbc.b32, 1, ws.w))
       |  GROUP BY w),
       |params AS (
       |  SELECT GREATEST(
       |    (SELECT COALESCE(min(w), $maxBits) FROM pbs
       |     WHERE s <= $pairBudget * n),
       |    (SELECT ${nbLadderSql(maxBits)}
       |     FROM (SELECT max(n) AS cnt FROM pbs))) AS nb)""".stripMargin
  }

  /** Integer-exact occupancy ladder over a count column `cnt` — the
    * smallest nb in [8, maxBits] with 2^nb·2 ≥ cnt, as 8 + one
    * increment per rung where the loop condition ((1<<nb)·2 < cnt)
    * still holds — the occupancy leg of [[pairBudgetParamsCtes]],
    * mirroring Similarity.pairBudgetSignBits' wOcc loop. */
  private def nbLadderSql(maxBits: Int): String =
    (9 to maxBits)
      .map(k => s"CASE WHEN cnt > ${(1L << (k - 1)) * 2} THEN 1 ELSE 0 END")
      .mkString("8 + ", " + ", "")

  /** Adaptive-width bucket for table `t` of an `nTables` OR-family —
    * the substr-concat replay of Similarity.signBucketWide at stride
    * 16: block 0 at plane offset t·16 (byte-identical to the round-13
    * one-block form whenever the params CTE's nb ≤ 16), block 1 at
    * (t + nTables)·16 appended only when nb exceeds 16 (the CASE keeps
    * the second block's 16 projections unevaluated at small corpora).
    * Callers must have a `params(nb)` CTE in scope
    * ([[pairBudgetParamsCtes]]). */
  private def wideBucketSql(t: Int, nTables: Int, dim: Int,
      vec: String): String =
    s"(substr(${seededBucketSql(16, dim, vec, t * 16)}, 1, " +
      "LEAST((SELECT nb FROM params), 16)) || " +
      "CASE WHEN (SELECT nb FROM params) > 16 THEN " +
      s"substr(${seededBucketSql(16, dim, vec, (t + nTables) * 16)}, 1, " +
      "(SELECT nb FROM params) - 16) ELSE '' END)"

  /** All `nBits` projections as a DuckDB list literal (multi-probe). */
  private def seededProjListSql(nBits: Int, dim: Int, vec: String): String =
    (0 until nBits).map(seededProjExpr(_, dim, vec)).mkString("[", ",\n      ", "]")

  /** Multi-probe LSH probe-set CTEs over a base CTE `n` carrying
    * (vec_id, embedding, n2, bucket): queries (vec_id < 10) rank their
    * bits by |projection| asc (ties by bit index — decimal-exact, no
    * IEEE ambiguity) and emit the exact bucket plus the `nProbe − 1`
    * single-bit flips of the least-confident bits, mirroring
    * [[graft.operators.Similarity.multiProbeTopK]]'s probe order
    * exactly. Yields a `probes` CTE of (vec_id, embedding, n2, probe).
    */
  private def multiProbeCtes(nBits: Int, dim: Int, nProbe: Int,
      p: String = ""): String = {
    val flips = (1 until nProbe).map { j =>
      s"""  SELECT vec_id, embedding, n2,
         |    substr(bucket, 1, o[$j].i) ||
         |      (CASE WHEN substr(bucket, o[$j].i + 1, 1) = '1'
         |            THEN '0' ELSE '1' END) ||
         |      substr(bucket, o[$j].i + 2) AS probe
         |  FROM ${p}qo""".stripMargin
    }
    s"""${p}qd AS (
       |  SELECT vec_id, embedding, n2, bucket,
       |    ${seededProjListSql(nBits, dim, "embedding")} AS d
       |  FROM n WHERE vec_id < 10),
       |${p}qo AS (
       |  SELECT *, list_sort(list_transform(generate_series(1, $nBits),
       |    i -> {'a': abs(d[i]), 'i': i - 1})) AS o
       |  FROM ${p}qd),
       |${p}probes AS (
       |  SELECT vec_id, embedding, n2, bucket AS probe FROM ${p}qo
       |  UNION ALL
       |${flips.mkString("\n  UNION ALL\n")})""".stripMargin
  }

  /** Decimal-exact dot product of two vector columns (DuckDB). */
  private def dotSql(a: String, b: String): String =
    s"list_aggregate(list_transform(generate_series(1, len($a)), " +
      s"i -> CAST(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) " +
      "AS DECIMAL(30,12))), 'sum')"

  /** Incremental near-dup survivors (shared by q_dedup_incremental
    * and q_stream_neardup — the streaming probe unions per-batch
    * results over the same incoming set, so one oracle serves both).
    */
  private val dedupIncrementalSql: String =
      """WITH existing AS (SELECT doc_id AS key, text AS t FROM documents),
        |incoming AS (
        |  SELECT doc_id + 1000000 AS key,
        |    CASE WHEN doc_id % 2 = 0 THEN substr(text, 1, length(text) - 10)
        |         ELSE array_to_string(list_reverse(list_filter(
        |           string_split_regex(text, '\s+'), x -> x <> '')), ' ')
        |    END AS t
        |  FROM documents),
        |shE AS (
        |  SELECT DISTINCT key, md5(array_to_string(w[i:i+4], ' ')) AS shingle
        |  FROM (
        |    SELECT key, string_split_regex(t, '\s+') AS w,
        |      unnest(generate_series(1,
        |        greatest(len(string_split_regex(t, '\s+')) - 4, 1))) AS i
        |    FROM existing)),
        |shI AS (
        |  SELECT DISTINCT key, md5(array_to_string(w[i:i+4], ' ')) AS shingle
        |  FROM (
        |    SELECT key, string_split_regex(t, '\s+') AS w,
        |      unnest(generate_series(1,
        |        greatest(len(string_split_regex(t, '\s+')) - 4, 1))) AS i
        |    FROM incoming)),
        |mhE AS (
        |  SELECT key, seed,
        |    min(substr(shingle || shingle, 1 + 4 * seed, 16)) AS mh
        |  FROM shE CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
        |  GROUP BY key, seed),
        |mhI AS (
        |  SELECT key, seed,
        |    min(substr(shingle || shingle, 1 + 4 * seed, 16)) AS mh
        |  FROM shI CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
        |  GROUP BY key, seed),
        |bandsE AS (
        |  SELECT key, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
        |    min(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
        |  FROM mhE GROUP BY key, seed // 2),
        |bandsI AS (
        |  SELECT key, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
        |    min(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
        |  FROM mhI GROUP BY key, seed // 2),
        |cand AS (
        |  SELECT DISTINCT i.key AS key_i, e.key AS key_e
        |  FROM bandsI i JOIN bandsE e
        |    ON i.band = e.band AND i.band_val = e.band_val),
        |cntE AS (SELECT key, count(*) AS cnt FROM shE GROUP BY key),
        |cntI AS (SELECT key, count(*) AS cnt FROM shI GROUP BY key),
        |inter AS (
        |  SELECT c.key_i, c.key_e, count(*) AS n_inter
        |  FROM cand c
        |  JOIN shI a ON a.key = c.key_i
        |  JOIN shE b ON b.key = c.key_e AND b.shingle = a.shingle
        |  GROUP BY c.key_i, c.key_e),
        |dup AS (
        |  SELECT DISTINCT i.key_i FROM inter i
        |  JOIN cntI ci ON ci.key = i.key_i
        |  JOIN cntE ce ON ce.key = i.key_e
        |  WHERE CAST(n_inter AS DOUBLE) /
        |    CAST(ci.cnt + ce.cnt - n_inter AS DOUBLE) >= 0.5)
        |SELECT key FROM incoming
        |WHERE key NOT IN (SELECT key_i FROM dup) ORDER BY key""".stripMargin

  /** One probe round of the CUMULATIVE streaming near-dup oracle:
    * incoming CTE `inc` vs corpus CTE `corpus` (both (key, t)),
    * n=5 word shingles, k=8 minhash, 4×2 bands, Jaccard ≥ 0.5 —
    * the same pipeline as [[dedupIncrementalSql]], suffixed with `p`
    * so rounds chain (round i+1's corpus includes round i's `surv$p`).
    */
  private def cumProbeCtes(p: String, corpus: String, inc: String): String =
    s"""shE$p AS (
       |  SELECT DISTINCT key, md5(array_to_string(w[i:i+4], ' ')) AS shingle
       |  FROM (
       |    SELECT key, string_split_regex(t, '\\s+') AS w,
       |      unnest(generate_series(1,
       |        greatest(len(string_split_regex(t, '\\s+')) - 4, 1))) AS i
       |    FROM $corpus)),
       |shI$p AS (
       |  SELECT DISTINCT key, md5(array_to_string(w[i:i+4], ' ')) AS shingle
       |  FROM (
       |    SELECT key, string_split_regex(t, '\\s+') AS w,
       |      unnest(generate_series(1,
       |        greatest(len(string_split_regex(t, '\\s+')) - 4, 1))) AS i
       |    FROM $inc)),
       |mhE$p AS (
       |  SELECT key, seed,
       |    min(substr(shingle || shingle, 1 + 4 * seed, 16)) AS mh
       |  FROM shE$p CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
       |  GROUP BY key, seed),
       |mhI$p AS (
       |  SELECT key, seed,
       |    min(substr(shingle || shingle, 1 + 4 * seed, 16)) AS mh
       |  FROM shI$p CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
       |  GROUP BY key, seed),
       |bandsE$p AS (
       |  SELECT key, seed // 2 AS band,
       |    min(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
       |    min(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
       |  FROM mhE$p GROUP BY key, seed // 2),
       |bandsI$p AS (
       |  SELECT key, seed // 2 AS band,
       |    min(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
       |    min(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
       |  FROM mhI$p GROUP BY key, seed // 2),
       |cand$p AS (
       |  SELECT DISTINCT i.key AS key_i, e.key AS key_e
       |  FROM bandsI$p i JOIN bandsE$p e
       |    ON i.band = e.band AND i.band_val = e.band_val),
       |cntE$p AS (SELECT key, count(*) AS cnt FROM shE$p GROUP BY key),
       |cntI$p AS (SELECT key, count(*) AS cnt FROM shI$p GROUP BY key),
       |inter$p AS (
       |  SELECT c.key_i, c.key_e, count(*) AS n_inter
       |  FROM cand$p c
       |  JOIN shI$p a ON a.key = c.key_i
       |  JOIN shE$p b ON b.key = c.key_e AND b.shingle = a.shingle
       |  GROUP BY c.key_i, c.key_e),
       |dup$p AS (
       |  SELECT DISTINCT i.key_i FROM inter$p i
       |  JOIN cntI$p ci ON ci.key = i.key_i
       |  JOIN cntE$p ce ON ce.key = i.key_e
       |  WHERE CAST(n_inter AS DOUBLE) /
       |    CAST(ci.cnt + ce.cnt - n_inter AS DOUBLE) >= 0.5),
       |surv$p AS (
       |  SELECT key FROM $inc
       |  WHERE key NOT IN (SELECT key_i FROM dup$p))""".stripMargin

  /** Cumulative streaming near-dup (q_stream_neardup_cum): batch 0
    * (odd originals) probes the index of the evens; batch 0's SURVIVORS
    * join the corpus; batch 1 (truncated odd copies) probes that
    * accumulated corpus. Deterministic because the stream lands one
    * file per batch value in ascending order — the fold IS this
    * 2-step chained CTE (round-7 verdict #4; same unrolling idea as
    * the BPE oracle). Pieces stripMargin'd separately, then joined —
    * never stripMargin over an interpolated multi-line helper.
    */
  private val streamNearDupCumSql: String = {
    val head =
      """WITH docs0 AS (
        |  SELECT doc_id AS key, text AS t FROM documents
        |  WHERE doc_id % 2 = 0),
        |inc0 AS (
        |  SELECT doc_id AS key, text AS t FROM documents
        |  WHERE doc_id % 2 = 1),
        |inc1 AS (
        |  SELECT doc_id + 1000000 AS key,
        |    substr(text, 1, length(text) - 10) AS t
        |  FROM documents WHERE doc_id % 2 = 1)""".stripMargin
    val corpus1 =
      """corpus1 AS (
        |  SELECT key, t FROM docs0
        |  UNION ALL
        |  SELECT key, t FROM inc0
        |  WHERE key IN (SELECT key FROM surv0))""".stripMargin
    val tail =
      """SELECT key FROM surv0
        |UNION ALL SELECT key FROM surv1 ORDER BY key""".stripMargin
    s"$head,\n${cumProbeCtes("0", "docs0", "inc0")},\n$corpus1,\n" +
      s"${cumProbeCtes("1", "corpus1", "inc1")}\n$tail"
  }

  /** Shared CDC CTE chain ending in `applied` — the change-log fixture
    * of q_cdc_apply replayed to its final state, reused by the IVM and
    * drift oracles (q_incr_rollup / q_drift_profile) so the fixtures
    * cannot drift apart.
    */
  private val cdcAppliedCtes: String =
    """WITH snap AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
      |ch AS (
      |  SELECT o_orderkey, TIMESTAMP '2024-02-01 00:00:00' AS ts,
      |    1 AS seq, 'U' AS op, o_custkey,
      |    o_totalprice + 1000 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, TIMESTAMP '2024-03-01 00:00:00', 1, 'D',
      |    o_custkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 5 = 0
      |  UNION ALL
      |  SELECT o_orderkey, TIMESTAMP '2024-03-15 00:00:00', 2, 'U',
      |    o_custkey, o_totalprice * 2
      |  FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, TIMESTAMP '2024-01-15 00:00:00',
      |    1, 'I', o_custkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 11 = 0),
      |latest AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |      ORDER BY ts DESC, seq DESC) AS rn FROM ch)
      |  WHERE rn = 1),
      |applied AS (
      |  SELECT o_orderkey,
      |    CASE WHEN l.op IS NOT NULL THEN l.o_custkey
      |         ELSE s.o_custkey END AS o_custkey,
      |    CASE WHEN l.op IS NOT NULL THEN l.o_totalprice
      |         ELSE s.o_totalprice END AS o_totalprice
      |  FROM snap s FULL OUTER JOIN latest l USING (o_orderkey)
      |  WHERE l.op IS NULL OR l.op <> 'D')""".stripMargin

  /** Full recompute of the maintained (count, sum) rollup — shared by
    * q_incr_rollup (one-shot apply) and q_stream_incr_rollup (the
    * streaming maintainer): both must hash-equal this.
    */
  private val incrRollupRecomputeSql: String =
    s"""$cdcAppliedCtes
       |SELECT o_custkey % 50 AS grp, CAST(count(*) AS BIGINT) AS cnt,
       |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE), 4)
       |    AS vsum
       |FROM applied GROUP BY o_custkey % 50 ORDER BY grp""".stripMargin

  /** Shared BPE CTE chain (word-freq table, per-codepoint symbol
    * strings, k unrolled count->argmax->two-pass-replace rounds) —
    * used by q_bpe_train (reads the b-r winners) and q_bpe_vocab
    * (reads the final s-k symbol table), so the two cannot drift.
    */
  private def bpeCtes(k: Int): String = {
      val head =
        """WITH w AS (
          |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
          |    SELECT unnest(list_filter(string_split_regex(text, '\s+'),
          |      x -> x <> '')) AS w
          |    FROM documents)
          |  GROUP BY w),
          |s0 AS (
          |  SELECT freq,
          |    ' ' || array_to_string(list_transform(
          |      generate_series(1, length(w)), i -> substr(w, i, 1)), ' ')
          |      || ' ' AS s
          |  FROM w)""".stripMargin
      val rounds = (1 to k).map { r =>
        s"""p$r AS (
           |  SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |    SELECT freq, sy[i] AS lhs, sy[i + 1] AS rhs FROM (
           |      SELECT freq, sy, unnest(generate_series(1, len(sy) - 1)) AS i
           |      FROM (SELECT freq, string_split(trim(s), ' ') AS sy
           |            FROM s${r - 1})
           |      WHERE len(sy) >= 2))
           |  GROUP BY lhs, rhs),
           |b$r AS (SELECT lhs, rhs, cnt FROM p$r
           |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
           |s$r AS (
           |  SELECT freq,
           |    replace(replace(s, ' ' || lhs || ' ' || rhs || ' ',
           |        ' ' || lhs || rhs || ' '),
           |      ' ' || lhs || ' ' || rhs || ' ',
           |      ' ' || lhs || rhs || ' ') AS s
           |  FROM s${r - 1} CROSS JOIN b$r)""".stripMargin
      }.mkString(",\n")
      s"$head,\n$rounds"
  }

  /** Gopher rule features + verdict (shared by q_gopher_rules and
    * the stateless streaming gate q_stream_quality). */
  private val gopherRulesSql: String =
    """WITH base AS (
        |  SELECT doc_id AS key, text,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws,
        |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS ls
        |  FROM documents),
        |feats AS (
        |  SELECT key,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    round(CAST(list_aggregate(list_transform(ws, x -> length(x)),
        |        'sum') AS DOUBLE) / CAST(greatest(len(ws), 1) AS DOUBLE), 6)
        |      AS mean_word_len,
        |    round((CAST(length(text) - length(replace(text, '#', ''))
        |        AS DOUBLE) +
        |      CAST(length(text) - length(replace(text, '...', ''))
        |        AS DOUBLE) / 3) / CAST(greatest(len(ws), 1) AS DOUBLE), 6)
        |      AS symbol_ratio,
        |    round(CAST(len(list_filter(ls, l ->
        |        starts_with(trim(l), '-') OR starts_with(trim(l), '*')
        |        OR starts_with(trim(l), '•'))) AS DOUBLE) /
        |      CAST(greatest(len(ls), 1) AS DOUBLE), 6) AS bullet_ratio,
        |    round(CAST(len(list_filter(ws, x ->
        |        regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) /
        |      CAST(greatest(len(ws), 1) AS DOUBLE), 6) AS alpha_word_frac,
        |    CAST(len(list_intersect(
        |      list_distinct(list_transform(ws, x -> lower(x))),
        |      ['the','be','to','of','and','that','have','with']))
        |      AS BIGINT) AS n_req_stop
        |  FROM base)
        |SELECT *,
        |  n_words >= 20 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio < 0.1 AND bullet_ratio < 0.9
        |    AND alpha_word_frac >= 0.8 AND n_req_stop >= 2 AS passes
        |FROM feats ORDER BY key""".stripMargin

  /** ANN recall + candidate-coverage audit over an arbitrary
    * (vec_id, embedding) source query — shared by q_ann_recall
    * (uniform corpus) and q_ann_recall_clustered (planted clusters).
    * Each method's pre-top-k scored CTE IS its candidate set, so the
    * coverage counts price exactly what the top-k examined — mirroring
    * the factored `*Candidates` functions on the Spark side. */
  private def annRecallSql(src: String): String =
    s"""WITH src AS (
       |  $src),
       |n AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS n2,
       |    ${seededBucketSql(4, 64, "embedding")} AS bucket
       |  FROM src),
       |q AS (SELECT * FROM n WHERE vec_id < 10),
       |gp AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(${dotSql("q.embedding", "c.embedding")} AS DOUBLE) /
       |      (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS cos
       |  FROM q, n c WHERE c.vec_id <> q.vec_id),
       |ground AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk FROM gp)
       |  WHERE rnk <= 5),
       |lp AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(${dotSql("q.embedding", "c.embedding")} AS DOUBLE) /
       |      (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS cos
       |  FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id),
       |lsh AS (
       |  SELECT 'lsh_bucket' AS method, query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk FROM lp)
       |  WHERE rnk <= 5),
       |${multiProbeCtes(4, 64, 3, "mp_")},
       |mpp AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(${dotSql("q.embedding", "c.embedding")} AS DOUBLE) /
       |      (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS cos
       |  FROM mp_probes q JOIN n c
       |    ON c.bucket = q.probe AND c.vec_id <> q.vec_id),
       |mp AS (
       |  SELECT 'lsh_multiprobe' AS method, query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk FROM mpp)
       |  WHERE rnk <= 5),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cvec, n2 AS cn2
       |  FROM n WHERE vec_id < 16),
       |corpus_sc AS (
       |  SELECT a.vec_id, a.embedding, a.n2, c.cent_id,
       |    CAST(${dotSql("a.embedding", "c.cvec")} AS DOUBLE) /
       |      (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))
       |      AS ccos
       |  FROM n a, cents c),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, embedding AS nv, n2 AS nn2, cent_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, cent_id) AS crn FROM corpus_sc)
       |  WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qv, n2 AS qn2, cent_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, cent_id) AS crn FROM corpus_sc
       |    WHERE vec_id < 10)
       |  WHERE crn <= 2),
       |iscored AS (
       |  SELECT p.query_id, a.neighbor_id,
       |    CAST(${dotSql("p.qv", "a.nv")} AS DOUBLE) /
       |      (sqrt(CAST(p.qn2 AS DOUBLE)) * sqrt(CAST(a.nn2 AS DOUBLE)))
       |      AS cos
       |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
       |    AND a.neighbor_id <> p.query_id),
       |ivf AS (
       |  SELECT 'ivf' AS method, query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk FROM iscored)
       |  WHERE rnk <= 5),
       |${orLshCtes(4, 64, 16)},
       |orl AS (
       |  SELECT 'lsh_or' AS method, query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk FROM or_sc)
       |  WHERE rnk <= 5),
       |${orLshCtes(8, 64, 8, "orw_")},
       |orw AS (
       |  SELECT 'lsh_or_wide' AS method, query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk FROM orw_sc)
       |  WHERE rnk <= 5),
       |approx AS (SELECT * FROM lsh UNION ALL SELECT * FROM mp
       |  UNION ALL SELECT * FROM ivf UNION ALL SELECT * FROM orl
       |  UNION ALL SELECT * FROM orw),
       |hits AS (
       |  SELECT a.method,
       |    CAST(sum(CASE WHEN g.query_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits
       |  FROM approx a LEFT JOIN ground g
       |    ON g.query_id = a.query_id AND g.neighbor_id = a.neighbor_id
       |  GROUP BY a.method),
       |cov AS (
       |  SELECT 'lsh_bucket' AS method, CAST(count(*) AS BIGINT) AS n_cand
       |    FROM lp
       |  UNION ALL SELECT 'lsh_multiprobe', CAST(count(*) AS BIGINT)
       |    FROM mpp
       |  UNION ALL SELECT 'ivf', CAST(count(*) AS BIGINT) FROM iscored
       |  UNION ALL SELECT 'lsh_or', CAST(count(*) AS BIGINT) FROM or_cand
       |  UNION ALL SELECT 'lsh_or_wide', CAST(count(*) AS BIGINT)
       |    FROM orw_cand),
       |nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
       |  FROM ground),
       |ncorp AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM n)
       |SELECT h.method, h.hits, n_queries,
       |  round(CAST(h.hits AS DOUBLE) / CAST(n_queries * 5 AS DOUBLE), 6)
       |    AS recall_at_k,
       |  cov.n_cand,
       |  round(CAST(cov.n_cand AS DOUBLE) /
       |    CAST(n_queries * (n_corpus - 1) AS DOUBLE), 6) AS coverage
       |FROM hits h JOIN cov ON cov.method = h.method
       |CROSS JOIN nq CROSS JOIN ncorp ORDER BY h.method""".stripMargin

  /** IVF ANN recompute (assignment from scratch, nCentroids=16,
    * nProbe=2) at `qMax` queries and top-`k` — shared by q_ann_ivf,
    * q_ann_ivf_indexed (indexed == recomputed contract) and
    * q_stream_ann (micro-batch union == batch probe). */
  private def ivfRecomputeSql(qMax: Int, k: Int): String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cvec, n2 AS cn2
       |  FROM n WHERE vec_id < 16),
       |corpus_sc AS (
       |  SELECT a.vec_id, a.embedding, a.n2, c.cent_id,
       |    CAST(${dotSql("a.embedding", "c.cvec")} AS DOUBLE) /
       |      (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))
       |      AS ccos
       |  FROM n a, cents c),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, embedding AS nv, n2 AS nn2, cent_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, cent_id) AS crn FROM corpus_sc)
       |  WHERE crn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qv, n2 AS qn2, cent_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, cent_id) AS crn FROM corpus_sc
       |    WHERE vec_id < $qMax)
       |  WHERE crn <= 2),
       |scored AS (
       |  SELECT p.query_id, a.neighbor_id,
       |    CAST(${dotSql("p.qv", "a.nv")} AS DOUBLE) /
       |      (sqrt(CAST(p.qn2 AS DOUBLE)) * sqrt(CAST(a.nn2 AS DOUBLE)))
       |      AS cos
       |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
       |    AND a.neighbor_id <> p.query_id)
       |SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, neighbor_id) AS rnk FROM scored)
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** `ctes` with every top-level CTE (a `name AS (` line at column 0)
    * marked `AS MATERIALIZED`. DuckDB otherwise inlines a CTE at each
    * reference, so a chain that reads one CTE from several places
    * recomputes it (and everything below it) once per reference: the
    * k-NN, embedding near-dup and label-propagation oracles re-ran their
    * 64-dim decimal dot products per reference and did not finish in
    * 40 min; materialized each takes 1–1.5 min at sf0.01 on 4 cores.
    * Same rows either way. */
  private def materialized(ctes: String): String =
    ctes.replaceAll("(?m)^(\\w+) AS \\(", "$1 AS MATERIALIZED (")

  /** k-NN-graph CTE chain (occupancy-ADAPTIVE-width × 4-table seeded
    * sign buckets → exact decimal cosine on the UNIONed candidate
    * pairs → per-query rank) — shared by q_knn_graph and q_label_prop.
    * Mirrors Similarity.knnGraph's round-13 rebucketing + round-14
    * pair-budget width: a fixed bucket space made the in-bucket
    * self-join quadratic in the corpus, and an occupancy-only ladder
    * stayed quadratic on CLUSTERED corpora — so the width is the
    * smallest nb in [8, 32] whose measured table-0 bucket histogram
    * has Σc² ≤ 32·n ([[pairBudgetParamsCtes]], integer-exact in both
    * engines) — and each table's bucket is the nb-prefix of its
    * table-major-interleaved plane blocks ([[wideBucketSql]], stride
    * 16). Yields CTEs pbn/pbc/pbs/params, n, cand, p, sc, r (r
    * carries cos + rnk). */
  private def knnGraphCtes: String = materialized {
    val buckets = (0 until 4)
      .map(t => s"${wideBucketSql(t, 4, 64, "embedding")} AS b$t")
      .mkString(",\n    ")
    val unions = (0 until 4)
      .map(t => s"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id\n" +
        s"  FROM n q JOIN n c ON c.b$t = q.b$t AND c.vec_id <> q.vec_id")
      .mkString("\n  UNION\n  ")
    s"""${pairBudgetParamsCtes("embeddings", "embedding", 64, nTables = 4)},
       |n AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS n2,
       |    $buckets
       |  FROM embeddings),
       |cand AS (
       |  $unions),
       |p AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    ${dotSql("q.embedding", "c.embedding")} AS dot,
       |    q.n2 AS qn2, c.n2 AS nn2
       |  FROM cand cd
       |  JOIN n q ON q.vec_id = cd.query_id
       |  JOIN n c ON c.vec_id = cd.neighbor_id),
       |sc AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE))) AS cos
       |  FROM p),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)""".stripMargin
  }

  /** Embedding near-dup CTE chain (documents ∪ planted perturbed
    * copies → OR-amplified 16-bit × 2-table seeded sign buckets →
    * exact decimal cosine ≥ 0.999 on the UNION of per-table candidate
    * pairs) — shared by q_embed_neardup and q_semantic_dedup. Mirrors
    * SparkEntry.embedNearDupPairs' round-13 rebucketing + round-14
    * pair-budget width: a fixed bucket space made in-bucket pairs
    * quadratic in the corpus (and an occupancy-only ladder stayed
    * quadratic on clustered corpora), so nb is the smallest width in
    * [8, 32] with measured Σc² ≤ 32·n over the ∪-corpus
    * ([[pairBudgetParamsCtes]]), each table's bucket the nb-prefix of
    * its interleaved plane blocks ([[wideBucketSql]], nTables = 2). */
  private def embedNearDupCtes: String = materialized {
    s"""pert AS (
       |  SELECT vec_id + 100000 AS vec_id,
       |    list_transform(generate_series(1, len(embedding)),
       |      i -> CASE WHEN i = 1
       |        THEN CAST(embedding[i] + CAST(0.01 AS FLOAT) AS FLOAT)
       |        ELSE embedding[i] END) AS embedding
       |  FROM embeddings),
       |corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL SELECT vec_id, embedding FROM pert),
       |${pairBudgetParamsCtes("corpus", "embedding", 64, nTables = 2)},
       |n AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS n2,
       |    ${wideBucketSql(0, 2, 64, "embedding")} AS b0,
       |    ${wideBucketSql(1, 2, 64, "embedding")} AS b1
       |  FROM corpus),
       |cand AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM n a JOIN n b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
       |  UNION
       |  SELECT a.vec_id, b.vec_id
       |  FROM n a JOIN n b ON a.b1 = b.b1 AND a.vec_id < b.vec_id),
       |p AS (
       |  SELECT c.id_a, c.id_b,
       |    ${dotSql("a.embedding", "b.embedding")} AS dot,
       |    a.n2 AS n2a, b.n2 AS n2b
       |  FROM cand c
       |  JOIN n a ON a.vec_id = c.id_a
       |  JOIN n b ON b.vec_id = c.id_b),
       |prs AS (
       |  SELECT id_a, id_b,
       |    CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) AS cos
       |  FROM p
       |  WHERE CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) >= 0.999)"""
      .stripMargin
  }

  /** The clean_text_for_nlp chain (F1) in DuckDB RE2 dialect. RE2's `\s`
    * lacks the vertical tab that Java's (and the engine's) includes, so
    * whitespace is spelled `[\s\v]`. */
  private def cleanExpr(c: String): String =
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"regexp_replace(lower(coalesce($c, '')), '<[^>]+>', '', 'g'), " +
      "'http[^\\s\\v]+|www[^\\s\\v]+|https[^\\s\\v]+', '', 'g'), " +
      "'\\[\\+\\d+ chars\\]', '', 'g'), " +
      "'[^\\w\\s\\v.!?]', '', 'g'), " +
      "'[\\s\\v]+', ' ', 'g'))"

  /** Shared MinHash-LSH CTE chain (corpus → word-shingle digests →
    * signatures → bands → candidate pairs → exact jaccard) — reused by
    * q_minhash_pairs and q_dedup_clusters so the two oracles cannot
    * drift.
    */
  private val minhashCtes: String =
    s"""corpus AS (
       |  SELECT doc_id AS key, text AS t FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, substr(text, 1, length(text) - 10)
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT key, md5(array_to_string(w[i:i+4], ' ')) AS shingle
       |  FROM (
       |    SELECT key, string_split_regex(t, '\\s+') AS w,
       |      unnest(generate_series(1,
       |        greatest(len(string_split_regex(t, '\\s+')) - 4, 1))) AS i
       |    FROM corpus)),
       |mh AS (
       |  SELECT key, seed,
       |    min(substr(shingle || shingle, 1 + 4 * seed, 16)) AS mh
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
       |  GROUP BY key, seed),
       |bands AS (
       |  SELECT key, seed // 2 AS band,
       |    min(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
       |    min(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
       |  FROM mh GROUP BY key, seed // 2),
       |cand AS (
       |  SELECT DISTINCT a.key AS key_a, b.key AS key_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_val = b.band_val AND a.key < b.key),
       |cnt AS (SELECT key, count(*) AS cnt FROM sh GROUP BY key),
       |inter AS (
       |  SELECT c.key_a, c.key_b, count(*) AS n_inter
       |  FROM cand c
       |  JOIN sh a ON a.key = c.key_a
       |  JOIN sh b ON b.key = c.key_b AND b.shingle = a.shingle
       |  GROUP BY c.key_a, c.key_b),
       |jac AS (
       |  SELECT i.key_a, i.key_b,
       |    CAST(n_inter AS DOUBLE) /
       |      CAST(ca.cnt + cb.cnt - n_inter AS DOUBLE) AS jacc
       |  FROM inter i
       |  JOIN cnt ca ON ca.key = i.key_a
       |  JOIN cnt cb ON cb.key = i.key_b)""".stripMargin

  /** Shared by q_stream_ffill and q_stream_ffill_tws — the two engines'
    * stateful-ffill implementations are semantics-identical, so one SQL
    * oracles both.
    */
  private val streamFfillSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      |  FROM events)
      |SELECT event_id, user_id, ts,
      |  last_value(v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
      |FROM e ORDER BY user_id, ts, event_id""".stripMargin

  /** The Zipf OLS CTE chain over `documents` restricted by `where`,
    * CTE names prefixed with `p` so several fits can share one WITH
    * list (q_zipf_asof unions two as-of points). Mirrors
    * TextAnalysis.zipfSlope / zipfFitFromCounts. */
  private def zipfFitCtes(p: String, where: String): String =
    s"""${p}toks AS (
       |  SELECT lang, unnest(list_filter(
       |    string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tok
       |  FROM documents $where),
       |${p}cnt AS (SELECT lang, tok, count(*) AS c FROM ${p}toks GROUP BY 1, 2),
       |${p}top AS (
       |  SELECT lang, c,
       |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS r
       |  FROM ${p}cnt QUALIFY r <= 100),
       |${p}xy AS (
       |  SELECT lang,
       |    round(ln(CAST(r AS DOUBLE)), 12) AS x,
       |    round(ln(CAST(c AS DOUBLE)), 12) AS y
       |  FROM ${p}top),
       |${p}s AS (
       |  SELECT lang, count(*) AS n,
       |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
       |    CAST(sum(CAST(x * y AS DECIMAL(38,24))) AS DOUBLE) AS sxy,
       |    CAST(sum(CAST(x * x AS DECIMAL(38,24))) AS DOUBLE) AS sxx
       |  FROM ${p}xy GROUP BY lang HAVING count(*) >= 2)""".stripMargin

  /** The slope projection over a [[zipfFitCtes]] `s` CTE. */
  private def zipfFitSelect(p: String, extraCols: String = ""): String =
    s"""SELECT ${extraCols}lang, CAST(n AS BIGINT) AS n_top,
       |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
       |        (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope
       |FROM ${p}s""".stripMargin

  /** The cold full-corpus Zipf fit — shared VERBATIM by q_zipf and
    * q_zipf_incremental (round-12 ADVICE: the incremental oracle IS the
    * cold one; a drifting copy would silently weaken the additivity
    * check). */
  private val zipfColdSql: String =
    s"WITH ${zipfFitCtes("", "")}\n${zipfFitSelect("")} ORDER BY lang"

  /** Morton interleave of the low 10 bits of x (even positions) and y
    * (odd) — mirrors Layout.zValue's bit arithmetic term-for-term.
    */
  private val zInterleave10: String =
    (0 until 10).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** The full 18-round unrolled PageRank over the symmetrized
    * customer↔nation graph at damping 0.25, rounded to 6 dp — the
    * shared cold oracle of q_pagerank_converged (early-exit proof) and
    * q_pagerank_incremental (warm-start equality proof). */
  private def unrolledCustomerPageRankSql: String = {
    // per-memory stripMargin trap: rounds are stripped individually,
    // then joined with plain interpolation (no outer stripMargin)
    val head =
      """WITH e0 AS (
        |  SELECT DISTINCT 'c:' || c_custkey AS src,
        |    'n:' || c_nationkey AS dst
        |  FROM customer),
        |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, 1.0 / CAST(n AS DOUBLE) AS r
        |  FROM nodes CROSS JOIN nn)""".stripMargin
    val rounds = (1 to 18).map { i =>
      s"""m$i AS (
         |  SELECT e.dst AS node,
         |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS m
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT nodes.node,
         |    (1.0 - 0.25) / CAST(n AS DOUBLE) + 0.25 * coalesce(m, 0.0) AS r
         |  FROM nodes LEFT JOIN m$i USING (node) CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    val tail =
      """SELECT node, round(r, 6) AS rank
        |FROM r18 ORDER BY rank DESC, node LIMIT 20""".stripMargin
    s"$head,\n$rounds\n$tail"
  }

  /** The full 18-round unrolled PERSONALIZED PageRank (seeds = nations
    * < 5) over the symmetrized customer↔nation graph at damping 0.25,
    * rounded to 6 dp — shared by q_ppr_converged and
    * q_ppr_incremental. */
  private def unrolledCustomerPprSql: String = {
    val head =
      """WITH e0 AS (
        |  SELECT DISTINCT 'c:' || c_custkey AS src,
        |    'n:' || c_nationkey AS dst
        |  FROM customer),
        |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |sd AS (
        |  SELECT DISTINCT 'n:' || n_nationkey AS node FROM nation
        |  WHERE n_nationkey < 5),
        |s AS (SELECT sd.node FROM sd JOIN nodes USING (node)),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_s FROM s),
        |tele AS (
        |  SELECT nodes.node,
        |    CASE WHEN s.node IS NOT NULL THEN 1.0 / CAST(n_s AS DOUBLE)
        |         ELSE 0.0 END AS tele
        |  FROM nodes LEFT JOIN s ON nodes.node = s.node CROSS JOIN ns),
        |r0 AS (SELECT node, tele AS r FROM tele)""".stripMargin
    val rounds = (1 to 18).map { i =>
      s"""m$i AS (
         |  SELECT e.dst AS node,
         |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
         |      AS DOUBLE) AS m
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT t.node, (1.0 - 0.25) * t.tele + 0.25 * coalesce(m, 0.0) AS r
         |  FROM tele t LEFT JOIN m$i USING (node))""".stripMargin
    }.mkString(",\n")
    val tail =
      """SELECT node, round(r, 6) AS rank
        |FROM r18 ORDER BY rank DESC, node LIMIT 20""".stripMargin
    s"$head,\n$rounds\n$tail"
  }

  val sql: Map[String, String] = Map(
    "q_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate <  TIMESTAMP '1996-01-01'
        |  AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // Mirrors the two-generation layout: even keys were written by the
    // old schema (int32 key, FLOAT price — the float round-trip is IEEE
    // single rounding, identical on both engines; no o_orderpriority →
    // defensive 'LEGACY'), odd keys by the widened current schema.
    "q_schema_evolution" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 2 = 0
        |       THEN CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE)
        |       ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |       ELSE 'LEGACY' END AS o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_partition_pruned" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,10)))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-06'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_extract_article" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0
        |      THEN '<html><body><div>paywall</div></body></html>'
        |      ELSE '<html><head><title>Doc ' || doc_id || ' (' || lang
        |        || ')</title>'
        |        || '<meta name="author" content="author-' || (doc_id % 7) || '">'
        |        || '<meta property="og:site_name" content="' || source || '">'
        |        || '<meta property="article:published_time" content="2024-03-'
        |        || (doc_id % 28 + 1) || '">'
        |        || '</head><body><p>'
        |        || regexp_replace(text, '\. ', '.</p><p>', 'g')
        |        || '</p></body></html>' END AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id AS key,
        |    nullif(regexp_extract(html, '<title>(.*?)</title>', 1), '')
        |      AS headline,
        |    nullif(regexp_extract(html,
        |      '<meta name="author" content="([^"]*)"', 1), '') AS author,
        |    nullif(regexp_extract(html,
        |      '<meta property="og:site_name" content="([^"]*)"', 1), '')
        |      AS publisher,
        |    nullif(array_to_string(
        |      regexp_extract_all(html, '<p>(.*?)</p>', 1),
        |      chr(10) || chr(10)), '') AS content,
        |    nullif(regexp_extract(html,
        |      '<meta property="article:published_time" content="([^"]*)"', 1),
        |      '') AS published_at,
        |    CAST(len(regexp_extract_all(html, '<p>(.*?)</p>', 1)) AS INTEGER)
        |      AS n_paragraphs
        |  FROM h)
        |SELECT key,
        |  CASE WHEN ok THEN headline END AS headline,
        |  CASE WHEN ok THEN author END AS author,
        |  CASE WHEN ok THEN publisher END AS publisher,
        |  CASE WHEN ok THEN content END AS content,
        |  CASE WHEN ok THEN published_at END AS published_at,
        |  CASE WHEN ok THEN n_paragraphs END AS n_paragraphs
        |FROM (SELECT *, content IS NOT NULL AND headline IS NOT NULL AS ok
        |      FROM x)
        |ORDER BY key""".stripMargin,

    "q_rename_project" ->
      """SELECT event_id, ts AS event_ts, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    "q_filter_compound" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |         WHEN o_orderkey % 7 = 0 THEN ''
        |         ELSE o_orderpriority END AS priority
        |  FROM orders)
        |SELECT o_orderkey, o_orderstatus, priority FROM o
        |WHERE NOT (o_orderstatus = 'F' AND (priority IS NULL OR priority = ''))
        |ORDER BY o_orderkey""".stripMargin,

    "q_null_defaults" ->
      """SELECT event_id,
        |  coalesce(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END, 0.0)
        |    AS filled_value,
        |  coalesce(CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END,
        |    'unknown') AS filled_type
        |FROM events ORDER BY event_id""".stripMargin,

    "q_clean_text" ->
      s"""SELECT doc_id, ${cleanExpr("text")} AS cleaned
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_time_ops" ->
      """SELECT event_id,
        |  date_trunc('second', ts) AS ts_sec,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
        |  CAST(ts AS DATE) + 2 AS d_plus2
        |FROM events ORDER BY event_id""".stripMargin,

    "q_cast_coerce" ->
      """SELECT event_id,
        |  TRY_CAST(CASE WHEN event_id % 5 = 0 THEN 'junk'
        |    ELSE CAST(event_id AS VARCHAR) || '.25' END AS DOUBLE) AS parsed_d,
        |  TRY_CAST(CASE WHEN event_id % 3 = 0 THEN 'x'
        |    ELSE CAST(event_id AS VARCHAR) END AS INTEGER) AS parsed_i
        |FROM events ORDER BY event_id""".stripMargin,

    "q_dedup_first" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,

    "q_dedup_composite" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM (
        |  SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
        |    row_number() OVER (PARTITION BY l_orderkey, l_partkey
        |      ORDER BY l_linenumber, l_quantity, l_extendedprice) AS rn
        |  FROM lineitem) WHERE rn = 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin,

    "q_anti_join_new" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders e
        |  WHERE e.o_orderkey % 2 = 0 AND e.o_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_idempotent_append" ->
      """SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey""",

    "q_fk_resolve" ->
      """WITH c AS (
        |  SELECT l_partkey, l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY l_orderkey, l_linenumber) AS rn
        |  FROM lineitem),
        |ids AS (
        |  SELECT l_partkey,
        |    'N' || CAST(l_partkey AS VARCHAR) || '@' ||
        |    CAST(l_orderkey AS VARCHAR) || ':' ||
        |    CAST(l_linenumber AS VARCHAR) AS new_id
        |  FROM c WHERE rn = 1)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey AS article_url,
        |  CASE WHEN l.l_partkey % 3 = 0 THEN 'E' || CAST(l.l_partkey AS VARCHAR)
        |       ELSE i.new_id END AS article_id
        |FROM lineitem l JOIN ids i ON i.l_partkey = l.l_partkey
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin,

    "q_star_join" ->
      """SELECT r_name, n_name, CAST(month(o_orderdate) AS INTEGER) AS order_month,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1, 2, 3
        |ORDER BY r_name, n_name, order_month""".stripMargin,

    "q_ffill_bfill" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_n
        |  FROM events)
        |SELECT event_id, user_id, ts,
        |  coalesce(
        |    last_value(value_n IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    first_value(value_n IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS value_filled
        |FROM e ORDER BY user_id, ts, event_id""".stripMargin,

    "q_candles" ->
      """WITH b AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT user_id, day,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS vsum,
        |  count(*) AS n
        |FROM b GROUP BY user_id, day
        |ORDER BY user_id, day""".stripMargin,

    "q_topk" ->
      """SELECT event_id, ts, event_type FROM (
        |  SELECT event_id, ts, event_type FROM events
        |  ORDER BY ts DESC, event_id DESC LIMIT 100)
        |ORDER BY event_id""".stripMargin,

    "q_flair_filter" ->
      """WITH posts AS (
        |  SELECT 'r' || CAST(o_orderkey AS VARCHAR) AS reddit_id,
        |    CASE WHEN o_orderkey % 19 = 0 THEN NULL
        |      ELSE 'flair' || CAST(o_orderkey % 7 AS VARCHAR) END AS link_flair_text,
        |    CAST(1700000000 + o_orderkey AS BIGINT) AS published_at,
        |    'Post ' || CAST(o_custkey % 20 AS VARCHAR) AS title
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT reddit_id, link_flair_text, published_at, title FROM posts
        |  WHERE link_flair_text IN ('flair1', 'flair3')
        |  ORDER BY published_at DESC, reddit_id DESC LIMIT 100)
        |ORDER BY reddit_id""".stripMargin,

    "q_flow_counts" ->
      """WITH per_flow AS (
        |  SELECT 'news' AS flow, CAST(count(*) AS BIGINT) AS n_records FROM documents
        |  UNION ALL
        |  SELECT 'praw', CAST(count(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'alpaca', CAST(count(*) AS BIGINT) FROM events)
        |SELECT flow, n_records FROM per_flow
        |UNION ALL
        |SELECT 'TOTAL', CAST(sum(n_records) AS BIGINT) FROM per_flow
        |ORDER BY flow""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT user_id FROM events ORDER BY user_id""",

    "q_null_profile" ->
      """SELECT count(*) AS n_rows,
        |  round(avg(CAST(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END
        |    AS DOUBLE)) * 100, 2) AS value_n_null_pct,
        |  round(avg(CAST(CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END
        |    AS DOUBLE)) * 100, 2) AS type_n_null_pct
        |FROM events""".stripMargin,

    "q_dup_profile" ->
      """SELECT l_partkey, l_suppkey, count(*) AS count
        |FROM lineitem GROUP BY l_partkey, l_suppkey
        |HAVING count(*) > 1
        |ORDER BY l_partkey, l_suppkey""".stripMargin,

    "q_lag_delta" ->
      """SELECT event_id, user_id, ts, value,
        |  lag(value) OVER w AS prev_value,
        |  value - lag(value) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_sessions" ->
      """WITH g AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, ts,
        |  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id
        |FROM g ORDER BY user_id, ts, event_id""".stripMargin,

    "q_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id, 0 AS side, value AS view_value
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 1 AS side, NULL AS view_value
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (
        |  SELECT user_id, ts, event_id, side,
        |    last_value(CASE WHEN side = 0 THEN view_value END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, side, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_value
        |  FROM u)
        |SELECT event_id, user_id, ts, view_value
        |FROM f WHERE side = 1
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_pipeline_news" ->
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    'https://example.com/' || CAST(doc_id % 400 AS VARCHAR) AS url,
         |    CASE WHEN doc_id % 5 = 0 THEN NULL
         |         ELSE 'author_' || CAST(doc_id % 10 AS VARCHAR) END AS author,
         |    CASE WHEN doc_id % 7 = 0 THEN NULL
         |         ELSE 'Title ' || CAST(doc_id AS VARCHAR) END AS title,
         |    CASE WHEN doc_id % 9 = 0 THEN NULL
         |         ELSE substr(text, 1, 50) END AS description,
         |    CASE WHEN doc_id % 3 = 0 THEN NULL ELSE text END AS content,
         |    source AS source_name,
         |    strftime(TIMESTAMP '2024-01-01' + INTERVAL (doc_id) MINUTE,
         |      '%Y-%m-%d %H:%M:%S') AS published_str
         |  FROM documents),
         |defaulted AS (
         |  SELECT doc_id, url, source_name, published_str,
         |    coalesce(author, 'No Author') AS author,
         |    coalesce(title, 'Untitled Article') AS title,
         |    coalesce(content, description,
         |      coalesce(title, 'Untitled Article')) AS content
         |  FROM raw),
         |dd AS (
         |  SELECT *, row_number() OVER (PARTITION BY url ORDER BY doc_id) AS rn
         |  FROM defaulted)
         |SELECT doc_id, sha256(url) AS id, url, source_name, author, title,
         |  content,
         |  ${cleanExpr("title")} AS title_cleaned,
         |  ${cleanExpr("content")} AS content_cleaned,
         |  CAST(published_str AS TIMESTAMP) AS published_at
         |FROM dd WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_pipeline_posts" ->
      s"""WITH raw AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 97 = 0 THEN NULL
         |         ELSE 'r' || CAST(o_orderkey % 1400 AS VARCHAR) END AS reddit_id,
         |    CASE WHEN o_orderkey % 89 = 0 THEN NULL
         |         ELSE 'sub' || CAST(o_custkey % 5 AS VARCHAR) END AS subreddit,
         |    'Post about ' || CAST(o_custkey % 20 AS VARCHAR) AS title,
         |    CASE WHEN o_orderkey % 3 = 0 THEN NULL
         |         ELSE 'text ' || CAST(o_orderkey AS VARCHAR) END AS body_text,
         |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
         |         ELSE o_orderkey % 1000 END AS score,
         |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
         |         ELSE o_custkey % 100 END AS number_of_comments,
         |    (o_orderkey % 2 = 0) AS is_text_post,
         |    CASE WHEN o_orderkey % 2 = 0 THEN NULL
         |         ELSE 'https://news/' || CAST(o_custkey % 50 AS VARCHAR) END
         |      AS article_url,
         |    CASE WHEN o_orderkey % 19 = 0 THEN NULL
         |         ELSE 'flair' || CAST(o_orderkey % 3 AS VARCHAR) END
         |      AS subreddit_category,
         |    CASE WHEN o_orderkey % 23 = 0 THEN NULL
         |         ELSE CAST(0.5 AS DOUBLE) +
         |           CAST(o_orderkey % 50 AS DOUBLE) / CAST(100.0 AS DOUBLE) END
         |      AS upvote_ratio,
         |    'p' || CAST(o_orderkey % 1400 AS VARCHAR) AS reddit_post_url,
         |    1700000000 + o_orderkey AS pub_epoch,
         |    CASE WHEN o_orderkey % 29 = 0 THEN ''
         |         WHEN o_orderkey % 31 = 0 THEN NULL
         |         ELSE '2024-03-01 12:00:00' END AS article_published_at,
         |    CASE WHEN o_orderkey % 37 = 0 THEN 'news, markets'
         |         ELSE 'finance' END AS article_category,
         |    CASE WHEN o_orderkey % 41 = 0 THEN NULL
         |         ELSE 'Headline' END AS article_headline
         |  FROM orders),
         |dd AS (
         |  SELECT *, row_number() OVER (PARTITION BY reddit_id, reddit_post_url
         |    ORDER BY o_orderkey) AS rn FROM raw),
         |req AS (
         |  SELECT * FROM dd
         |  WHERE rn = 1 AND reddit_id IS NOT NULL AND subreddit IS NOT NULL),
         |def AS (
         |  SELECT o_orderkey, reddit_id, subreddit, title,
         |    coalesce(body_text, 'No text') AS body_text,
         |    coalesce(score, 0) AS score,
         |    coalesce(number_of_comments, 0) AS number_of_comments,
         |    is_text_post, article_url,
         |    coalesce(subreddit_category, 'No category') AS subreddit_category,
         |    coalesce(upvote_ratio, 0.5) AS upvote_ratio,
         |    reddit_post_url, pub_epoch, article_published_at, article_category,
         |    coalesce(article_headline, 'No Title') AS article_headline
         |  FROM req),
         |flt AS (
         |  SELECT * FROM def
         |  WHERE NOT (is_text_post = false AND
         |    (article_published_at IS NULL OR article_published_at = '')))
         |SELECT sha256(reddit_id) AS id, reddit_id, subreddit, title,
         |  ${cleanExpr("title")} AS title_cleaned,
         |  body_text,
         |  ${cleanExpr("body_text")} AS body_cleaned,
         |  CAST(score AS INTEGER) AS score,
         |  CAST(number_of_comments AS INTEGER) AS number_of_comments,
         |  is_text_post, subreddit_category, upvote_ratio,
         |  TIMESTAMP '1970-01-01' + INTERVAL (pub_epoch) SECOND AS published_at,
         |  article_url,
         |  CAST(NULLIF(article_published_at, '') AS TIMESTAMP)
         |    AS article_published_at,
         |  article_category, article_headline, reddit_post_url
         |FROM flt ORDER BY reddit_id""".stripMargin,

    "q_pipeline_bars" ->
      """WITH raw AS (
        |  SELECT 'S' || CAST(user_id AS VARCHAR) AS ticker, ts AS bar_ts,
        |    event_id,
        |    TRY_CAST(CASE WHEN event_id % 7 = 0 THEN NULL
        |      ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS open,
        |    TRY_CAST(CASE WHEN event_id % 11 = 0 THEN 'junk'
        |      ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS high,
        |    TRY_CAST(CASE WHEN event_id % 13 = 0 THEN NULL
        |      ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS low,
        |    TRY_CAST(CAST(value AS VARCHAR) AS DOUBLE) AS close,
        |    TRY_CAST(CASE WHEN event_id % 5 = 0 THEN NULL
        |      ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS vwap,
        |    TRY_CAST(CASE WHEN event_id % 3 = 0 THEN NULL
        |      ELSE CAST(event_id % 1000 AS VARCHAR) END AS DOUBLE) AS volume,
        |    TRY_CAST(CASE WHEN event_id % 17 = 0 THEN 'x'
        |      ELSE CAST(event_id % 50 AS VARCHAR) END AS DOUBLE) AS trade_count
        |  FROM events),
        |filled AS (
        |  SELECT ticker, bar_ts, event_id,
        |    coalesce(last_value(open IGNORE NULLS) OVER wp,
        |             first_value(open IGNORE NULLS) OVER wf) AS open,
        |    coalesce(last_value(high IGNORE NULLS) OVER wp,
        |             first_value(high IGNORE NULLS) OVER wf) AS high,
        |    coalesce(last_value(low IGNORE NULLS) OVER wp,
        |             first_value(low IGNORE NULLS) OVER wf) AS low,
        |    coalesce(last_value(close IGNORE NULLS) OVER wp,
        |             first_value(close IGNORE NULLS) OVER wf) AS close,
        |    coalesce(last_value(vwap IGNORE NULLS) OVER wp,
        |             first_value(vwap IGNORE NULLS) OVER wf) AS vwap,
        |    CAST(coalesce(volume, 0) AS BIGINT) AS volume,
        |    CAST(coalesce(trade_count, 0) AS BIGINT) AS trade_count
        |  FROM raw
        |  WINDOW
        |    wp AS (PARTITION BY ticker ORDER BY bar_ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY ticker ORDER BY bar_ts
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT * FROM filled
        |WHERE open IS NOT NULL AND high IS NOT NULL AND low IS NOT NULL
        |  AND close IS NOT NULL AND vwap IS NOT NULL
        |ORDER BY ticker, bar_ts""".stripMargin,

    "q_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, n_chars FROM documents),
        |dd AS (
        |  SELECT *, row_number() OVER (PARTITION BY md5(text)
        |    ORDER BY doc_id) AS rn FROM corpus)
        |SELECT doc_id, n_chars FROM dd WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_minhash_pairs" ->
      s"""WITH $minhashCtes
         |SELECT key_a, key_b, jacc FROM jac WHERE jacc >= 0.5
         |ORDER BY key_a, key_b""".stripMargin,

    // Banding-quality audit: ground truth = exact Jaccard over ALL
    // co-shingled pairs (exhaustive for any positive threshold);
    // audited sets = raw band candidates at three (k, rowsPerBand)
    // dials. minhashCtes supplies the (8,2) bands; seeds 8-15 mirror
    // NearDup.minhashSig's second digest md5('b:' || shingle).
    "q_neardup_recall" ->
      s"""WITH $minhashCtes,
         |ti AS (
         |  SELECT a.key AS key_a, b.key AS key_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.key < b.key
         |  WHERE a.key % 4 = 0 AND b.key % 4 = 0
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT t.key_a, t.key_b
         |  FROM ti t
         |  JOIN cnt ca ON ca.key = t.key_a
         |  JOIN cnt cb ON cb.key = t.key_b
         |  WHERE CAST(n_inter AS DOUBLE) /
         |    CAST(ca.cnt + cb.cnt - n_inter AS DOUBLE) >= 0.5),
         |mh16 AS (
         |  SELECT key, seed,
         |    min(CASE WHEN seed < 8
         |      THEN substr(shingle || shingle, 1 + 4 * seed, 16)
         |      ELSE substr(md5('b:' || shingle) || md5('b:' || shingle),
         |        1 + 4 * (seed - 8), 16) END) AS mh
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed)
         |  GROUP BY key, seed),
         |b162 AS (
         |  SELECT key, seed // 2 AS band,
         |    min(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
         |    min(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
         |  FROM mh16 GROUP BY key, seed // 2),
         |c162 AS (
         |  SELECT DISTINCT a.key AS key_a, b.key AS key_b
         |  FROM b162 a JOIN b162 b
         |    ON a.band = b.band AND a.band_val = b.band_val AND a.key < b.key),
         |b164 AS (
         |  SELECT key, seed // 4 AS band,
         |    min(CASE WHEN seed % 4 = 0 THEN mh END) || '|' ||
         |    min(CASE WHEN seed % 4 = 1 THEN mh END) || '|' ||
         |    min(CASE WHEN seed % 4 = 2 THEN mh END) || '|' ||
         |    min(CASE WHEN seed % 4 = 3 THEN mh END) AS band_val
         |  FROM mh16 GROUP BY key, seed // 4),
         |c164 AS (
         |  SELECT DISTINCT a.key AS key_a, b.key AS key_b
         |  FROM b164 a JOIN b164 b
         |    ON a.band = b.band AND a.band_val = b.band_val AND a.key < b.key),
         |cand4 AS (SELECT * FROM cand WHERE key_a % 4 = 0 AND key_b % 4 = 0),
         |c162f AS (SELECT * FROM c162 WHERE key_a % 4 = 0 AND key_b % 4 = 0),
         |c164f AS (SELECT * FROM c164 WHERE key_a % 4 = 0 AND key_b % 4 = 0),
         |audit AS (
         |  SELECT 8 AS k, 2 AS rows_per_band, 4 AS n_bands,
         |    (SELECT count(*) FROM truth) AS nt,
         |    (SELECT count(*) FROM cand4) AS nc,
         |    (SELECT count(*) FROM cand4 c JOIN truth t
         |      ON c.key_a = t.key_a AND c.key_b = t.key_b) AS nh
         |  UNION ALL
         |  SELECT 16, 2, 8,
         |    (SELECT count(*) FROM truth),
         |    (SELECT count(*) FROM c162f),
         |    (SELECT count(*) FROM c162f c JOIN truth t
         |      ON c.key_a = t.key_a AND c.key_b = t.key_b)
         |  UNION ALL
         |  SELECT 16, 4, 4,
         |    (SELECT count(*) FROM truth),
         |    (SELECT count(*) FROM c164f),
         |    (SELECT count(*) FROM c164f c JOIN truth t
         |      ON c.key_a = t.key_a AND c.key_b = t.key_b))
         |SELECT CAST(k AS INTEGER) AS k,
         |  CAST(rows_per_band AS INTEGER) AS rows_per_band,
         |  CAST(n_bands AS INTEGER) AS n_bands,
         |  CAST(nt AS BIGINT) AS n_true, CAST(nc AS BIGINT) AS n_cand,
         |  CAST(nh AS BIGINT) AS n_hit,
         |  round(CAST(nh AS DOUBLE) / CAST(nt AS DOUBLE), 9) AS recall,
         |  round(CAST(nh AS DOUBLE) / CAST(nc AS DOUBLE), 9) AS precision
         |FROM audit ORDER BY k, rows_per_band""".stripMargin,

    "q_edit_distance" ->
      s"""WITH $minhashCtes
         |SELECT c.key_a, c.key_b,
         |  CAST(levenshtein(a.t, b.t) AS INTEGER) AS edit_dist
         |FROM cand c
         |JOIN corpus a ON a.key = c.key_a
         |JOIN corpus b ON b.key = c.key_b
         |WHERE levenshtein(a.t, b.t) <= 15
         |ORDER BY key_a, key_b""".stripMargin,

    // Connected components over the near-dup pairs: the recursive
    // closure (min reachable key per node) equals Spark's min-label
    // propagation run to convergence — both are exact CC labelings.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pr AS (SELECT key_a, key_b FROM jac WHERE jacc >= 0.5),
         |edges AS (
         |  SELECT key_a AS a, key_b AS b FROM pr
         |  UNION SELECT key_b, key_a FROM pr),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach(src, dst) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)
         |SELECT src AS key, min(dst) AS cluster_id
         |FROM reach GROUP BY src ORDER BY key""".stripMargin,

    // Incremental cluster maintenance: the IDENTICAL full-closure
    // oracle as q_dedup_clusters — that identity is the theorem
    // (previous labels encode exactly their batch's connectivity and
    // preserve every component min, so warm contraction over
    // labels ∪ new-pairs equals cold contraction over all pairs).
    "q_dedup_clusters_incr" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pr AS (SELECT key_a, key_b FROM jac WHERE jacc >= 0.5),
         |edges AS (
         |  SELECT key_a AS a, key_b AS b FROM pr
         |  UNION SELECT key_b, key_a FROM pr),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach(src, dst) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst)
         |SELECT src AS key, min(dst) AS cluster_id
         |FROM reach GROUP BY src ORDER BY key""".stripMargin,

    // Leakage-safe split: the q_dedup_clusters closure assigns every
    // doc its near-dup cluster (self for singletons), then the q_split
    // md5-bucket hashes the CLUSTER id — near-copies provably share a
    // split. 80/10/10 bounds as in q_split.
    "q_leakage_split" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pr AS (SELECT key_a, key_b FROM jac WHERE jacc >= 0.5),
         |edges AS (
         |  SELECT key_a AS a, key_b AS b FROM pr
         |  UNION SELECT key_b, key_a FROM pr),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach(src, dst) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
         |labels AS (
         |  SELECT src AS key, min(dst) AS cluster_id
         |  FROM reach GROUP BY src),
         |assigned AS (
         |  SELECT c.key, coalesce(l.cluster_id, c.key) AS grp
         |  FROM corpus c LEFT JOIN labels l ON c.key = l.key)
         |SELECT key, grp,
         |  CASE
         |    WHEN CAST(concat('0x', substr(md5(CAST(grp AS VARCHAR)), 1, 4))
         |      AS BIGINT) < 52428 THEN 'train'
         |    WHEN CAST(concat('0x', substr(md5(CAST(grp AS VARCHAR)), 1, 4))
         |      AS BIGINT) < 58981 THEN 'val'
         |    ELSE 'test'
         |  END AS split
         |FROM assigned ORDER BY key""".stripMargin,

    // Both-direction containment scores over the shared LSH candidates.
    "q_containment" ->
      s"""WITH $minhashCtes,
         |co AS (
         |  SELECT i.key_a, i.key_b,
         |    round(CAST(n_inter AS DOUBLE) / CAST(ca.cnt AS DOUBLE), 6)
         |      AS cont_a,
         |    round(CAST(n_inter AS DOUBLE) / CAST(cb.cnt AS DOUBLE), 6)
         |      AS cont_b
         |  FROM inter i
         |  JOIN cnt ca ON ca.key = i.key_a
         |  JOIN cnt cb ON cb.key = i.key_b)
         |SELECT key_a, key_b, cont_a, cont_b,
         |  greatest(cont_a, cont_b) AS containment
         |FROM co WHERE greatest(cont_a, cont_b) >= 0.9
         |ORDER BY key_a, key_b""".stripMargin,

    // Same closure as q_dedup_clusters, aggregated into duplicate
    // groups (representative = min key = cluster id, sorted members).
    "q_cluster_reps" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pr AS (SELECT key_a, key_b FROM jac WHERE jacc >= 0.5),
         |edges AS (
         |  SELECT key_a AS a, key_b AS b FROM pr
         |  UNION SELECT key_b, key_a FROM pr),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach(src, dst) AS (
         |  SELECT n, n FROM nodes
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
         |labels AS (
         |  SELECT src AS key, min(dst) AS cluster_id
         |  FROM reach GROUP BY src)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |  string_agg(CAST(key AS VARCHAR), ',' ORDER BY key) AS members
         |FROM labels GROUP BY cluster_id
         |HAVING count(*) >= 2 ORDER BY cluster_id""".stripMargin,

    "q_simhash" -> {
      val sums = (0 until 16).map(b =>
        s"sum(CASE WHEN substr(h, ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n    ")
      val bits = (0 until 16).map(b =>
        s"CASE WHEN s$b > 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""WITH tok AS (
         |  SELECT doc_id AS key,
         |    md5(unnest(string_split_regex(text, '\\s+'))) AS h
         |  FROM documents),
         |votes AS (
         |  SELECT key,
         |    $sums
         |  FROM tok WHERE h IS NOT NULL GROUP BY key)
         |SELECT key, $bits AS simhash FROM votes ORDER BY key""".stripMargin
    },

    "q_dedup_incremental" -> dedupIncrementalSql,

    // The streaming probe partitions the same incoming set into
    // micro-batches, each probed against the SAME materialized index —
    // incoming-vs-existing only on both paths, so the union of per-batch
    // survivors equals the one-shot batch result and the oracle is
    // shared verbatim.
    "q_stream_neardup" -> dedupIncrementalSql,

    "q_stream_neardup_cum" -> streamNearDupCumSql,

    "q_simhash_pairs" -> {
      // bit b = bit-plane (3 − b/32) of md5 nibble (b mod 32) — mirrors
      // NearDup.simhashBits exactly (first 32 bits ≡ the "digit ≥ '8'"
      // high-bit test; planes below via bitwise AND on the nibble value)
      val sums = (0 until 60).map { b =>
        val plane = 3 - b / 32
        val nib = b % 32
        val isSet =
          if (plane == 3) s"substr(h, ${nib + 1}, 1) >= '8'"
          else s"((strpos('0123456789abcdef', substr(h, ${nib + 1}, 1)) - 1) & ${1 << plane}) <> 0"
        s"sum(CASE WHEN $isSet THEN 1 ELSE -1 END) AS s$b"
      }.mkString(",\n    ")
      val bits = (0 until 60).map(b =>
        s"CASE WHEN s$b > 0 THEN '1' ELSE '0' END").mkString(" || ")
      // DuckDB hamming(VARCHAR, VARCHAR) counts differing positions of
      // equal-length strings — on '0'/'1' fingerprints that is exactly
      // Spark's bit_count(sig_a XOR sig_b) over the parsed integers
      val ham = "hamming(sig_a, sig_b)"
      // eligible = the maxBucket=200 posting-list cap, in lockstep with
      // NearDup.simhashPairs (buckets of 2..200 members participate;
      // the dropped buckets are audited by q_simhash_band_stats)
      s"""WITH corpus AS (
         |  SELECT doc_id AS key, text AS t FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, substr(text, 1, length(text) - 10)
         |  FROM documents),
         |tok AS (
         |  SELECT key,
         |    md5(unnest(list_filter(string_split_regex(t, '\\s+'),
         |      x -> x <> ''))) AS h
         |  FROM corpus),
         |votes AS (
         |  SELECT key,
         |    $sums
         |  FROM tok GROUP BY key),
         |sig AS (SELECT key, $bits AS simhash FROM votes),
         |bands AS (
         |  SELECT key, simhash, b, substr(simhash, 1 + 15 * b, 15) AS band_val
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)),
         |eligible AS (
         |  SELECT bands.* FROM bands
         |  JOIN (SELECT b, band_val FROM bands GROUP BY b, band_val
         |        HAVING count(*) BETWEEN 2 AND 200) g
         |    ON bands.b = g.b AND bands.band_val = g.band_val),
         |cand AS (
         |  SELECT DISTINCT a.key AS key_a, c.key AS key_b,
         |    a.simhash AS sig_a, c.simhash AS sig_b
         |  FROM eligible a JOIN eligible c
         |    ON a.b = c.b AND a.band_val = c.band_val AND a.key < c.key)
         |SELECT key_a, key_b, CAST($ham AS INTEGER) AS hamming
         |FROM cand WHERE ($ham) <= 3 ORDER BY key_a, key_b""".stripMargin
    },

    "q_simhash_band_stats" -> {
      val sums = (0 until 60).map { b =>
        val plane = 3 - b / 32
        val nib = b % 32
        val isSet =
          if (plane == 3) s"substr(h, ${nib + 1}, 1) >= '8'"
          else s"((strpos('0123456789abcdef', substr(h, ${nib + 1}, 1)) - 1) & ${1 << plane}) <> 0"
        s"sum(CASE WHEN $isSet THEN 1 ELSE -1 END) AS s$b"
      }.mkString(",\n    ")
      val bits = (0 until 60).map(b =>
        s"CASE WHEN s$b > 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""WITH corpus AS (
         |  SELECT doc_id AS key, text AS t FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, substr(text, 1, length(text) - 10)
         |  FROM documents),
         |tok AS (
         |  SELECT key,
         |    md5(unnest(list_filter(string_split_regex(t, '\\s+'),
         |      x -> x <> ''))) AS h
         |  FROM corpus),
         |votes AS (
         |  SELECT key,
         |    $sums
         |  FROM tok GROUP BY key),
         |sig AS (SELECT key, $bits AS simhash FROM votes),
         |bands AS (
         |  SELECT key, b, substr(simhash, 1 + 15 * b, 15) AS band_val
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)),
         |bsz AS (
         |  SELECT b, band_val, count(*) AS c FROM bands
         |  GROUP BY b, band_val HAVING count(*) > 1)
         |SELECT count(*) AS n_buckets_ge2,
         |  CAST(sum(CASE WHEN c > 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_dropped,
         |  CAST(sum(CASE WHEN c <= 200 THEN c * (c - 1) // 2 ELSE 0 END) AS BIGINT) AS cand_kept,
         |  CAST(sum(CASE WHEN c > 200 THEN c * (c - 1) // 2 ELSE 0 END) AS BIGINT) AS cand_dropped
         |FROM bsz""".stripMargin
    },

    "q_image_neardup" -> {
      // block b of 32 over the payload byte stream (== codepoints on the
      // all-ASCII corpus); bit = block mean > global mean, both double
      // divisions of exact integer sums — mirrors
      // Multimodal.imageBlockHash exactly
      val aggs = (0 until 32).map(b =>
        s"sum(CASE WHEN blk = $b THEN c END) AS s$b, " +
          s"sum(CASE WHEN blk = $b THEN 1 ELSE 0 END) AS n$b")
        .mkString(",\n    ")
      val bits = (0 until 32).map(b =>
        s"CASE WHEN n$b > 0 AND CAST(s$b AS DOUBLE) / CAST(n$b AS DOUBLE) " +
          s"> CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE) THEN '1' ELSE '0' END")
        .mkString(" || ")
      val ham = "hamming(sig_a, sig_b)"
      s"""WITH corpus AS (
         |  SELECT doc_id AS key, text AS t FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |    substr(text, 1, 10) || 'zzzzz' || substr(text, 16)
         |  FROM documents),
         |px AS (
         |  SELECT key,
         |    CAST(floor(CAST((i - 1) * 32 AS DOUBLE) /
         |      CAST(length(t) AS DOUBLE)) AS INTEGER) AS blk,
         |    ascii(substr(t, i, 1)) AS c
         |  FROM (
         |    SELECT key, t, unnest(generate_series(1, length(t))) AS i
         |    FROM corpus)),
         |agg AS (
         |  SELECT key,
         |    $aggs,
         |    sum(c) AS gs, count(*) AS gn
         |  FROM px GROUP BY key),
         |sig AS (SELECT key, $bits AS simhash FROM agg),
         |bands AS (
         |  SELECT key, simhash, b, substr(simhash, 1 + 8 * b, 8) AS band_val
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b)),
         |cand AS (
         |  SELECT DISTINCT a.key AS key_a, c.key AS key_b,
         |    a.simhash AS sig_a, c.simhash AS sig_b
         |  FROM bands a JOIN bands c
         |    ON a.b = c.b AND a.band_val = c.band_val AND a.key < c.key)
         |SELECT key_a, key_b, CAST($ham AS INTEGER) AS hamming
         |FROM cand WHERE ($ham) <= 3 ORDER BY key_a, key_b""".stripMargin
    },

    "q_ngram_jaccard" ->
      """WITH corpus AS (
        |  SELECT doc_id AS key, text AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substr(text, 1, length(text) - 10)
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT key, substr(t, i, 8) AS shingle FROM (
        |    SELECT key, t,
        |      unnest(generate_series(1, greatest(length(t) - 7, 1))) AS i
        |    FROM corpus)),
        |pairs AS (
        |  SELECT doc_id AS key_a, doc_id + 1000000 AS key_b FROM documents),
        |cnt AS (SELECT key, count(*) AS cnt FROM sh GROUP BY key),
        |inter AS (
        |  SELECT p.key_a, p.key_b, count(*) AS n_inter
        |  FROM pairs p
        |  JOIN sh a ON a.key = p.key_a
        |  JOIN sh b ON b.key = p.key_b AND b.shingle = a.shingle
        |  GROUP BY p.key_a, p.key_b)
        |SELECT i.key_a, i.key_b, n_inter,
        |  CAST(n_inter AS DOUBLE) /
        |    CAST(ca.cnt + cb.cnt - n_inter AS DOUBLE) AS jacc
        |FROM inter i
        |JOIN cnt ca ON ca.key = i.key_a
        |JOIN cnt cb ON cb.key = i.key_b
        |ORDER BY key_a""".stripMargin,

    "q_cosine_topk" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    list_aggregate(list_transform(generate_series(1, len(embedding)),
        |      i -> CAST(CAST(embedding[i] AS DOUBLE) *
        |                CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,12))),
        |      'sum') AS n2
        |  FROM embeddings),
        |q AS (SELECT * FROM n WHERE vec_id < 10),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_aggregate(list_transform(generate_series(1, len(q.embedding)),
        |      i -> CAST(CAST(q.embedding[i] AS DOUBLE) *
        |                CAST(c.embedding[i] AS DOUBLE) AS DECIMAL(30,12))),
        |      'sum') AS dot,
        |    q.n2 AS qn2, c.n2 AS nn2
        |  FROM q, n c WHERE c.vec_id <> q.vec_id),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE))) AS cos
        |  FROM p),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "q_embed_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |q8 AS (
        |  SELECT vec_id, amax / CAST(127.0 AS DOUBLE) AS scale,
        |    CASE WHEN amax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x ->
        |           CAST(floor(x / (amax / CAST(127.0 AS DOUBLE)) + 0.5) AS BIGINT))
        |    END AS q
        |  FROM v)
        |SELECT vec_id, scale,
        |  list_min(q) AS qmin, list_max(q) AS qmax,
        |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS qsum,
        |  CAST(list_aggregate(list_transform(q, x -> x * x), 'sum') AS BIGINT)
        |    AS qnorm2
        |FROM q8 ORDER BY vec_id""".stripMargin,

    "q_quantize_topk" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |q8 AS (
        |  SELECT vec_id,
        |    CASE WHEN amax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x ->
        |           CAST(floor(x / (amax / CAST(127.0 AS DOUBLE)) + 0.5) AS BIGINT))
        |    END AS q
        |  FROM v),
        |n AS (
        |  SELECT vec_id, q,
        |    CAST(list_aggregate(list_transform(generate_series(1, len(q)),
        |      i -> q[i] * q[i]), 'sum') AS BIGINT) AS qn2
        |  FROM q8),
        |p AS (
        |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_aggregate(list_transform(generate_series(1, len(a.q)),
        |      i -> a.q[i] * c.q[i]), 'sum') AS BIGINT) AS qdot,
        |    a.qn2 AS qn2a, c.qn2 AS qn2b
        |  FROM n a, n c WHERE a.vec_id < 10 AND c.vec_id <> a.vec_id),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(qdot AS DOUBLE) /
        |      (sqrt(CAST(qn2a AS DOUBLE)) * sqrt(CAST(qn2b AS DOUBLE)))
        |      AS approx_cos
        |  FROM p),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY approx_cos DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, neighbor_id, approx_cos, CAST(rnk AS INTEGER) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "q_ann_bucketed" ->
      s"""WITH n AS (
        |  SELECT vec_id, embedding,
        |    ${dotSql("embedding", "embedding")} AS n2,
        |    ${seededBucketSql(4, 64, "embedding")} AS bucket
        |  FROM embeddings),
        |q AS (SELECT * FROM n WHERE vec_id < 10),
        |p AS (
        |  SELECT q.vec_id AS query_id, q.bucket, c.vec_id AS neighbor_id,
        |    list_aggregate(list_transform(generate_series(1, len(q.embedding)),
        |      i -> CAST(CAST(q.embedding[i] AS DOUBLE) *
        |                CAST(c.embedding[i] AS DOUBLE) AS DECIMAL(30,12))),
        |      'sum') AS dot,
        |    q.n2 AS qn2, c.n2 AS nn2
        |  FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id),
        |s AS (
        |  SELECT query_id, bucket, neighbor_id,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE))) AS cos
        |  FROM p),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, bucket, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // Label propagation: k-NN graph (symmetrized) + 3 unrolled rounds
    // of in-neighbor majority vote with seed override.
    "q_label_prop" -> {
      val rounds = (1 to 3).map { r =>
        s"""v$r AS (
           |  SELECT e.dst AS node, l.label, CAST(count(*) AS BIGINT) AS n
           |  FROM edges e JOIN l${r - 1} l ON e.src = l.node
           |  GROUP BY e.dst, l.label),
           |w$r AS (
           |  SELECT node, label FROM (
           |    SELECT *, row_number() OVER (PARTITION BY node
           |      ORDER BY n DESC, label) AS rn FROM v$r)
           |  WHERE rn = 1),
           |l$r AS (
           |  SELECT node, label FROM l0
           |  UNION ALL
           |  SELECT w.node, w.label FROM w$r w
           |  LEFT JOIN l0 s ON s.node = w.node WHERE s.node IS NULL)"""
          .stripMargin
      }.mkString(",\n")
      val graph =
        """kg AS (
          |  SELECT query_id, neighbor_id FROM r WHERE rnk <= 3),
          |edges AS (
          |  SELECT query_id AS src, neighbor_id AS dst FROM kg
          |  UNION SELECT neighbor_id, query_id FROM kg),
          |l0 AS (
          |  SELECT DISTINCT vec_id AS node, label FROM embeddings
          |  WHERE vec_id < 50)""".stripMargin
      s"""WITH $knnGraphCtes,
         |${materialized(s"$graph,\n$rounds")}
         |SELECT node, label FROM l3 ORDER BY node""".stripMargin
    },

    // Multi-probe LSH: exact bucket + two least-confident-bit flips per
    // query; probe buckets are pairwise distinct so no candidate dedup.
    "q_ann_multiprobe" ->
      s"""WITH n AS (
        |  SELECT vec_id, embedding,
        |    ${dotSql("embedding", "embedding")} AS n2,
        |    ${seededBucketSql(4, 64, "embedding")} AS bucket
        |  FROM embeddings),
        |${multiProbeCtes(4, 64, 3)},
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ${dotSql("q.embedding", "c.embedding")} AS dot,
        |    q.n2 AS qn2, c.n2 AS nn2
        |  FROM probes q JOIN n c
        |    ON c.bucket = q.probe AND c.vec_id <> q.vec_id),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE))) AS cos
        |  FROM p),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // Recall@5 of each approximate method vs brute-force ground truth —
    // the bucketed and IVF pipelines replayed at k=5, hit-joined to the
    // exact top-5.
    "q_ann_recall" ->
      annRecallSql("SELECT vec_id, embedding FROM embeddings"),

    // clustered fixture: centroid = original embedding of (vec_id % 16),
    // jitter ±0.05 per dim by md5 parity of (vec_id, dim) — mirrors
    // SparkEntry.clusteredEmbeddings exactly (double add, one float cast)
    "q_ann_recall_clustered" ->
      annRecallSql(
        """SELECT e.vec_id,
          |    list_transform(generate_series(1, len(c.embedding)),
          |      i -> CAST(CAST(c.embedding[i] AS DOUBLE) +
          |        CASE WHEN strpos('13579bdf', substr(md5('j:' ||
          |            CAST(e.vec_id AS VARCHAR) || ':' ||
          |            CAST(i - 1 AS VARCHAR)), 1, 1)) > 0
          |          THEN CAST(0.05 AS DOUBLE)
          |          ELSE CAST(-0.05 AS DOUBLE) END AS FLOAT)) AS embedding
          |  FROM embeddings e
          |  JOIN embeddings c ON c.vec_id = e.vec_id % 16""".stripMargin),

    // Mirrors Similarity.knnGraph's round-13 OR-amplified rebucketing
    // (12 bits × 4 tables — a fixed 256-bucket space made the in-bucket
    // self-join quadratic in the corpus); CTEs shared with q_label_prop.
    "q_knn_graph" ->
      s"""WITH $knnGraphCtes
         |SELECT query_id, neighbor_id, cos, CAST(rnk AS INTEGER) AS rnk
         |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    "q_lang_id" ->
      """WITH m(cand_lang, pattern) AS (VALUES
        |  ('en', '\b(the|a|and|of)\b'),
        |  ('es', '\b(scan|row|data)\b'),
        |  ('de', '\b(join|merge|hash)\b'),
        |  ('fr', '\b(table|filter|sort)\b'),
        |  ('zh', '\b(query|group|order)\b')),
        |s AS (
        |  SELECT doc_id AS key, cand_lang,
        |    CAST(len(regexp_extract_all(lower(text), pattern)) AS INTEGER)
        |      AS hits
        |  FROM documents, m),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |    ORDER BY hits DESC, cand_lang) AS rn FROM s)
        |SELECT key, cand_lang AS pred_lang, hits FROM r WHERE rn = 1
        |ORDER BY key""".stripMargin,

    "q_url_canon" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END) ||
        |    '.Example.COM' ||
        |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |    '/' || lang || '/' || CAST(doc_id % 100 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_medium=rss'
        |          WHEN doc_id % 3 = 1 THEN '?id=7&utm_campaign=x#frag'
        |          ELSE '#section' END) AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    regexp_replace(url, '#.*', '', 'g') AS nofrag
        |  FROM m),
        |q AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    lower(regexp_extract(nofrag, '^[^:]+://([^/?#]*)', 1)) AS hostport,
        |    regexp_extract(nofrag, '^[^:]+://[^/?#]*(.*)', 1) AS rest
        |  FROM p),
        |r AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |      WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |      ELSE hostport END AS host,
        |    regexp_extract(rest, '^([^?]*)', 1) AS rawpath,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_extract(rest, '(\?.*)$', 1),
        |      '[?&](utm_[A-Za-z]*|fbclid|gclid)=[^&]*', '', 'g'),
        |      '^&', '?', 'g'), '[?&]+$', '', 'g') AS query
        |  FROM q)
        |SELECT scheme || '://' || host ||
        |  regexp_replace(rawpath, '/+$', '', 'g') || query AS url_canon,
        |  CAST(count(*) AS BIGINT) AS n_raw_urls,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms
        |FROM r GROUP BY 1 ORDER BY url_canon""".stripMargin,

    "q_snapshot_diff" ->
      """WITH old_s AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |new_s AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey % 17 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 19 = 0)
        |SELECT
        |  coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE
        |    WHEN o.o_orderkey IS NULL THEN 'added'
        |    WHEN n.o_orderkey IS NULL THEN 'removed'
        |    WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |      OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |      THEN 'changed'
        |    ELSE 'unchanged' END AS diff_status,
        |  o.o_totalprice AS old_o_totalprice,
        |  n.o_totalprice AS new_o_totalprice
        |FROM old_s o FULL OUTER JOIN new_s n USING (o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_sma_crossover" ->
      """WITH w AS (
        |  SELECT event_id, user_id, ts,
        |    round(CAST(sum(CAST(value AS DECIMAL(30,10))) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |      CAST(count(*) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE), 9)
        |      AS sma_short,
        |    round(CAST(sum(CAST(value AS DECIMAL(30,10))) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |      CAST(count(*) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS DOUBLE), 9)
        |      AS sma_long
        |  FROM events),
        |s AS (
        |  SELECT event_id, user_id, ts, sma_short, sma_long,
        |    sma_short > sma_long AS signal
        |  FROM w)
        |SELECT event_id, user_id, ts, sma_short, sma_long, signal,
        |  CASE WHEN lag(signal) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN NULL
        |    ELSE signal <> lag(signal) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) END AS crossed
        |FROM s ORDER BY user_id, ts, event_id""".stripMargin,

    "q_entropy" ->
      """WITH words AS (
        |  SELECT key, unnest(w) AS w FROM (
        |    SELECT doc_id AS key,
        |      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |    FROM documents)),
        |wc AS (SELECT key, w, CAST(count(*) AS BIGINT) AS c
        |  FROM words GROUP BY key, w)
        |SELECT key AS doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(ln(CAST(sum(c) AS DOUBLE)) -
        |    CAST(sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
        |      AS DECIMAL(38,12))) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 9)
        |    AS entropy
        |FROM wc GROUP BY key ORDER BY doc_id""".stripMargin,

    "q_autocorr" ->
      """WITH p AS (
        |  SELECT user_id, value AS v,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vl
        |  FROM events),
        |f AS (SELECT * FROM p WHERE vl IS NOT NULL),
        |m AS (
        |  SELECT user_id, count(*) AS n,
        |    sum(CAST(v AS DECIMAL(38,12))) AS sx,
        |    sum(CAST(vl AS DECIMAL(38,12))) AS sy,
        |    sum(CAST(v * v AS DECIMAL(38,12))) AS sxx,
        |    sum(CAST(vl * vl AS DECIMAL(38,12))) AS syy,
        |    sum(CAST(v * vl AS DECIMAL(38,12))) AS sxy
        |  FROM f GROUP BY user_id)
        |SELECT user_id, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 8) AS autocorr
        |FROM m ORDER BY user_id""".stripMargin,

    "q_pagerank" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
        |  FROM lineitem),
        |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, 1.0 / CAST(n AS DOUBLE) AS r
        |  FROM nodes CROSS JOIN nn),
        |m1 AS (
        |  SELECT e.dst AS node,
        |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS m
        |  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |r1 AS (
        |  SELECT nodes.node,
        |    (1.0 - 0.85) / CAST(n AS DOUBLE) + 0.85 * coalesce(m, 0.0) AS r
        |  FROM nodes LEFT JOIN m1 USING (node) CROSS JOIN nn),
        |m2 AS (
        |  SELECT e.dst AS node,
        |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS m
        |  FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT nodes.node,
        |    (1.0 - 0.85) / CAST(n AS DOUBLE) + 0.85 * coalesce(m, 0.0) AS r
        |  FROM nodes LEFT JOIN m2 USING (node) CROSS JOIN nn),
        |m3 AS (
        |  SELECT e.dst AS node,
        |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS m
        |  FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT nodes.node,
        |    (1.0 - 0.85) / CAST(n AS DOUBLE) + 0.85 * coalesce(m, 0.0) AS r
        |  FROM nodes LEFT JOIN m3 USING (node) CROSS JOIN nn)
        |SELECT node, round(r, 12) AS rank
        |FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin,

    // Converged PageRank: the oracle runs ALL 18 rounds (the fixed
    // contract); Spark's pageRankConverged early-exits once the
    // contraction bound proves round(r_i, 6) == round(r_18, 6), so the
    // hash compare verifies the proof. Same op sequence as q_pagerank
    // at damping 0.25, no danglers (symmetrized graph).
    "q_pagerank_converged" -> unrolledCustomerPageRankSql,

    // Incremental (warm-start) PageRank: the IDENTICAL full-graph
    // 18-round cold oracle — that identity IS the theorem. Spark ranks
    // the grown graph warm-started from a previous batch's ranks and
    // exits only when round(warm_i, 6) PROVABLY equals
    // round(cold_18, 6) (measured contraction bound + the a-priori
    // 2·d^18 cold-trajectory bound + rounding-boundary clearance, see
    // Graph.pageRankWarmStart). The previous-batch ranks never enter
    // the comparison, so hash-green here verifies the warm-start
    // equality proof end to end.
    "q_pagerank_incremental" -> unrolledCustomerPageRankSql,

    // Directed converged PageRank: full 18-round unroll INCLUDING the
    // per-round dangling-mass sum (every nation is a sink on the
    // unsymmetrized customer→nation graph); Spark early-exits via the
    // contraction proof, so hash-green here verifies the proof holds
    // with the dangling completion in the recurrence.
    "q_pagerank_directed_converged" -> {
      // per-memory stripMargin trap: rounds are stripped individually,
      // then joined with plain interpolation (no outer stripMargin)
      // every r$i is referenced TWICE per round (mass join + dangling
      // sum) — inlined, the plan doubles per round (2^18 expansion;
      // observed as DuckDB fd exhaustion)
      val head =
        """edges AS (
          |  SELECT DISTINCT 'c:' || c_custkey AS src,
          |    'n:' || c_nationkey AS dst
          |  FROM customer),
          |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
          |nodes AS (SELECT DISTINCT node FROM (
          |  SELECT src AS node FROM edges
          |  UNION ALL SELECT dst AS node FROM edges)),
          |dang AS (
          |  SELECT n.node FROM nodes n
          |  LEFT JOIN (SELECT DISTINCT src FROM edges) s ON n.node = s.src
          |  WHERE s.src IS NULL),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |r0 AS (SELECT node, 1.0 / CAST(n AS DOUBLE) AS r
          |  FROM nodes CROSS JOIN nn)""".stripMargin
      val rounds = (1 to 18).map { i =>
        s"""m$i AS (
           |  SELECT e.dst AS node,
           |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
           |      AS DOUBLE) AS m
           |  FROM edges e JOIN r${i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
           |  GROUP BY e.dst),
           |d$i AS (
           |  SELECT CAST(coalesce(sum(CAST(r.r AS DECIMAL(38,12))),
           |    CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS dmass
           |  FROM r${i - 1} r JOIN dang g ON r.node = g.node),
           |r$i AS (
           |  SELECT nodes.node,
           |    (1.0 - 0.25) / CAST(n AS DOUBLE) +
           |      0.25 * (coalesce(m, 0.0) + dmass / CAST(n AS DOUBLE)) AS r
           |  FROM nodes LEFT JOIN m$i USING (node) CROSS JOIN nn CROSS JOIN d$i)""".stripMargin
      }.mkString(",\n")
      val tail =
        """SELECT node, round(r, 6) AS rank
          |FROM r18 ORDER BY rank DESC, node LIMIT 20""".stripMargin
      s"WITH ${materialized(s"$head,\n$rounds")}\n$tail"
    },

    // Converged PERSONALIZED PageRank: full 18-round unroll of the
    // seed-teleport recurrence (no danglers on the symmetrized graph);
    // Spark early-exits via the same contraction proof — the teleport
    // only changes the affine constant, not the contraction factor.
    "q_ppr_converged" -> unrolledCustomerPprSql,

    // Incremental (warm-start) personalized PageRank: the identical
    // cold oracle — hash-green verifies the warm-start equality proof
    // on the seed-teleport recurrence (see q_pagerank_incremental).
    "q_ppr_incremental" -> unrolledCustomerPprSql,

    // Directed PageRank with dangling-mass completion: nodes = src∪dst,
    // per-round dangling sum (decimal, order-independent) redistributed
    // uniformly — mirrors Graph.pageRank's op sequence exactly.
    "q_pagerank_directed" ->
      """WITH edges AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS src, 'p:' || l_partkey AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM edges
        |  UNION ALL SELECT dst AS node FROM edges)),
        |dang AS (
        |  SELECT n.node FROM nodes n
        |  LEFT JOIN (SELECT DISTINCT src FROM edges) s ON n.node = s.src
        |  WHERE s.src IS NULL),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, 1.0 / CAST(n AS DOUBLE) AS r
        |  FROM nodes CROSS JOIN nn),
        |m1 AS (
        |  SELECT e.dst AS node,
        |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS m
        |  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |d1 AS (
        |  SELECT CAST(coalesce(sum(CAST(r.r AS DECIMAL(38,12))),
        |    CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS dmass
        |  FROM r0 r JOIN dang g ON r.node = g.node),
        |r1 AS (
        |  SELECT nodes.node,
        |    (1.0 - 0.85) / CAST(n AS DOUBLE) +
        |      0.85 * (coalesce(m, 0.0) + dmass / CAST(n AS DOUBLE)) AS r
        |  FROM nodes LEFT JOIN m1 USING (node) CROSS JOIN nn CROSS JOIN d1),
        |m2 AS (
        |  SELECT e.dst AS node,
        |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS m
        |  FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |d2 AS (
        |  SELECT CAST(coalesce(sum(CAST(r.r AS DECIMAL(38,12))),
        |    CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS dmass
        |  FROM r1 r JOIN dang g ON r.node = g.node),
        |r2 AS (
        |  SELECT nodes.node,
        |    (1.0 - 0.85) / CAST(n AS DOUBLE) +
        |      0.85 * (coalesce(m, 0.0) + dmass / CAST(n AS DOUBLE)) AS r
        |  FROM nodes LEFT JOIN m2 USING (node) CROSS JOIN nn CROSS JOIN d2),
        |m3 AS (
        |  SELECT e.dst AS node,
        |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS m
        |  FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |d3 AS (
        |  SELECT CAST(coalesce(sum(CAST(r.r AS DECIMAL(38,12))),
        |    CAST(0 AS DECIMAL(38,12))) AS DOUBLE) AS dmass
        |  FROM r2 r JOIN dang g ON r.node = g.node),
        |r3 AS (
        |  SELECT nodes.node,
        |    (1.0 - 0.85) / CAST(n AS DOUBLE) +
        |      0.85 * (coalesce(m, 0.0) + dmass / CAST(n AS DOUBLE)) AS r
        |  FROM nodes LEFT JOIN m3 USING (node) CROSS JOIN nn CROSS JOIN d3)
        |SELECT node, round(r, 9) AS rank
        |FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin,

    "q_ppr" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
        |  FROM lineitem),
        |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |sd AS (
        |  SELECT DISTINCT 'p:' || p_partkey AS node FROM part
        |  WHERE p_partkey % 50 = 0),
        |s AS (SELECT sd.node FROM sd JOIN nodes USING (node)),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_s FROM s),
        |tele AS (
        |  SELECT nodes.node,
        |    CASE WHEN s.node IS NOT NULL THEN 1.0 / CAST(n_s AS DOUBLE)
        |         ELSE 0.0 END AS tele
        |  FROM nodes LEFT JOIN s ON nodes.node = s.node CROSS JOIN ns),
        |r0 AS (SELECT node, tele AS r FROM tele),
        |m1 AS (
        |  SELECT e.dst AS node,
        |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS m
        |  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |r1 AS (
        |  SELECT t.node, (1.0 - 0.85) * t.tele + 0.85 * coalesce(m, 0.0) AS r
        |  FROM tele t LEFT JOIN m1 USING (node)),
        |m2 AS (
        |  SELECT e.dst AS node,
        |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS m
        |  FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT t.node, (1.0 - 0.85) * t.tele + 0.85 * coalesce(m, 0.0) AS r
        |  FROM tele t LEFT JOIN m2 USING (node)),
        |m3 AS (
        |  SELECT e.dst AS node,
        |    CAST(sum(CAST(r.r / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS m
        |  FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT t.node, (1.0 - 0.85) * t.tele + 0.85 * coalesce(m, 0.0) AS r
        |  FROM tele t LEFT JOIN m3 USING (node))
        |SELECT node, round(r, 9) AS rank
        |FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin,

    "q_cohort" ->
      """WITH acts AS (
        |  SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS TIMESTAMP) AS b
        |  FROM events),
        |first AS (SELECT u, min(b) AS cohort FROM acts GROUP BY u)
        |SELECT cohort,
        |  CAST(date_diff('day', cohort, b) AS INTEGER) AS day_offset,
        |  CAST(count(DISTINCT u) AS BIGINT) AS n_users
        |FROM acts JOIN first USING (u)
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,

    "q_funnel" ->
      """WITH b AS (
        |  SELECT user_id AS u, ts, event_id AS tb, event_type AS stage
        |  FROM events),
        |s0 AS (
        |  SELECT *, min(CASE WHEN stage = 'view' THEN ts END) OVER w AS t0
        |  FROM b WINDOW w AS (PARTITION BY u ORDER BY ts, tb
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s1 AS (
        |  SELECT *, min(CASE WHEN stage = 'click' AND t0 IS NOT NULL
        |      AND ts >= t0 THEN ts END) OVER w AS t1
        |  FROM s0 WINDOW w AS (PARTITION BY u ORDER BY ts, tb
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s2 AS (
        |  SELECT *, min(CASE WHEN stage = 'purchase' AND t1 IS NOT NULL
        |      AND ts >= t1 THEN ts END) OVER w AS t2
        |  FROM s1 WINDOW w AS (PARTITION BY u ORDER BY ts, tb
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT u AS user_id,
        |  max(CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2
        |    WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS reached
        |FROM s2 GROUP BY u ORDER BY user_id""".stripMargin,

    "q_span_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id AS key, text AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substr(text, 1, length(text) - 10)
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT key, md5(array_to_string(w[i:i+19], ' ')) AS shingle
        |  FROM (
        |    SELECT key, string_split_regex(t, '\s+') AS w,
        |      unnest(generate_series(1,
        |        greatest(len(string_split_regex(t, '\s+')) - 19, 1))) AS i
        |    FROM corpus)),
        |cnt AS (SELECT shingle, count(*) AS c FROM sh GROUP BY shingle),
        |good AS (SELECT shingle FROM cnt WHERE c > 1 AND c <= 50),
        |s2 AS (SELECT sh.key, sh.shingle FROM sh JOIN good USING (shingle))
        |SELECT a.key AS key_a, b.key AS key_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_spans
        |FROM s2 a JOIN s2 b ON a.shingle = b.shingle AND a.key < b.key
        |GROUP BY 1, 2 ORDER BY key_a, key_b""".stripMargin,

    "q_tokenize" ->
      """WITH words AS (
        |  SELECT key, i - 1 AS pos, w[i] AS w
        |  FROM (
        |    SELECT doc_id AS key,
        |      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w,
        |      unnest(generate_series(1,
        |        len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')))) AS i
        |    FROM documents)),
        |vocab AS (
        |  SELECT w, id FROM (
        |    SELECT w, row_number() OVER (ORDER BY cnt DESC, w) - 1 AS id
        |    FROM (SELECT w, count(*) AS cnt FROM words GROUP BY w))
        |  WHERE id < 30),
        |enc AS (
        |  SELECT key, pos, coalesce(id, -1) AS id
        |  FROM words LEFT JOIN vocab USING (w))
        |SELECT key AS doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS ids
        |FROM enc GROUP BY key ORDER BY doc_id""".stripMargin,

    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id AS key,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |lens AS (SELECT key, CAST(len(w) AS BIGINT) AS dl FROM toks),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dl) AS BIGINT) AS sdl FROM lens),
        |tf AS (
        |  SELECT key, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT key, unnest(w) AS term FROM toks)
        |  WHERE term IN ('scan', 'join', 'window', 'stream')
        |  GROUP BY key, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT t.key,
        |    ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) /
        |        (CAST(d.df AS DOUBLE) + 0.5) + 1.0) *
        |      (CAST(t.tf AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(t.tf AS DOUBLE) +
        |        1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) /
        |          (CAST(s.sdl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS sc
        |  FROM tf t JOIN dfreq d USING (term) JOIN lens l ON t.key = l.key
        |  CROSS JOIN stats s)
        |SELECT key AS doc_id,
        |  round(CAST(sum(CAST(sc AS DECIMAL(38,12))) AS DOUBLE), 9) AS bm25,
        |  CAST(count(*) AS BIGINT) AS n_terms
        |FROM scored GROUP BY key
        |ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin,

    // RRF fusion of the BM25 lexical top-50 and the dense cosine top-50
    // for query vector 0 — fixed-point terms (10^12 // (60+rnk)) so the
    // sum is exact integer arithmetic on both engines.
    "q_rank_fusion" ->
      s"""WITH toks AS (
        |  SELECT doc_id AS key,
        |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
        |  FROM documents),
        |lens AS (SELECT key, CAST(len(w) AS BIGINT) AS dl FROM toks),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dl) AS BIGINT) AS sdl FROM lens),
        |tf AS (
        |  SELECT key, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT key, unnest(w) AS term FROM toks)
        |  WHERE term IN ('scan', 'join', 'window', 'stream')
        |  GROUP BY key, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT t.key,
        |    ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) /
        |        (CAST(d.df AS DOUBLE) + 0.5) + 1.0) *
        |      (CAST(t.tf AS DOUBLE) * (1.2 + 1.0)) /
        |      (CAST(t.tf AS DOUBLE) +
        |        1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) /
        |          (CAST(s.sdl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))) AS sc
        |  FROM tf t JOIN dfreq d USING (term) JOIN lens l ON t.key = l.key
        |  CROSS JOIN stats s),
        |bm AS (
        |  SELECT key,
        |    round(CAST(sum(CAST(sc AS DECIMAL(38,12))) AS DOUBLE), 9) AS bm25
        |  FROM scored GROUP BY key
        |  ORDER BY bm25 DESC, key LIMIT 50),
        |lexr AS (
        |  SELECT key, row_number() OVER (ORDER BY bm25 DESC, key) AS rnk
        |  FROM bm),
        |n AS (
        |  SELECT vec_id, embedding,
        |    ${dotSql("embedding", "embedding")} AS n2
        |  FROM embeddings),
        |dq AS (SELECT embedding, n2 FROM n WHERE vec_id = 0),
        |ds AS (
        |  SELECT c.vec_id AS key,
        |    CAST(${dotSql("q.embedding", "c.embedding")} AS DOUBLE) /
        |      (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS cos
        |  FROM dq q, n c WHERE c.vec_id <> 0),
        |denser AS (
        |  SELECT key, rnk FROM (
        |    SELECT key, row_number() OVER (ORDER BY cos DESC, key) AS rnk
        |    FROM ds)
        |  WHERE rnk <= 50),
        |terms AS (
        |  SELECT key, 1000000000000 // (60 + rnk) AS term FROM lexr
        |  UNION ALL
        |  SELECT key, 1000000000000 // (60 + rnk) FROM denser)
        |SELECT key AS doc_id, CAST(count(*) AS INTEGER) AS n_lists,
        |  round(CAST(sum(term) AS DOUBLE) / 1e12, 8) AS rrf
        |FROM terms GROUP BY key ORDER BY rrf DESC, doc_id""".stripMargin,

    // MMR re-ranking, 5 greedy picks unrolled as chained CTEs — each
    // step's penalty is a correlated max over the selected-so-far set.
    "q_mmr_rerank" -> {
      val steps = (2 to 5).map { i =>
        s"""p$i AS (
           |  SELECT key, CAST($i AS INTEGER) AS pick,
           |    0.75 * rel - 0.25 * (
           |      SELECT max(CAST(${dotSql("c.vec", "s.vec")} AS DOUBLE) /
           |        (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(s.n2 AS DOUBLE))))
           |      FROM s${i - 1} s) AS mmr,
           |    rel, vec, n2
           |  FROM cand c WHERE key NOT IN (SELECT key FROM s${i - 1})
           |  ORDER BY mmr DESC, key LIMIT 1),
           |s$i AS (SELECT * FROM s${i - 1} UNION ALL SELECT * FROM p$i)"""
          .stripMargin
      }.mkString(",\n")
      val head =
        s"""WITH n AS (
           |  SELECT vec_id, embedding,
           |    ${dotSql("embedding", "embedding")} AS n2
           |  FROM embeddings),
           |dq AS (SELECT embedding, n2 FROM n WHERE vec_id = 0),
           |sc AS (
           |  SELECT c.vec_id AS key,
           |    CAST(${dotSql("q.embedding", "c.embedding")} AS DOUBLE) /
           |      (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS rel,
           |    c.embedding AS vec, c.n2 AS n2
           |  FROM dq q, n c WHERE c.vec_id <> 0),
           |cand AS (
           |  SELECT key, rel, vec, n2 FROM (
           |    SELECT *, row_number() OVER (ORDER BY rel DESC, key) AS rnk
           |    FROM sc)
           |  WHERE rnk <= 20),
           |p1 AS (
           |  SELECT key, CAST(1 AS INTEGER) AS pick, 0.75 * rel AS mmr,
           |    rel, vec, n2
           |  FROM cand ORDER BY mmr DESC, key LIMIT 1),
           |s1 AS (SELECT * FROM p1)""".stripMargin
      val tail =
        """SELECT key, pick, round(mmr, 8) AS mmr, round(rel, 8) AS rel
          |FROM s5 ORDER BY pick""".stripMargin
      s"$head,\n$steps\n$tail"
    },

    "q_dsir" ->
      """WITH rawb AS (
        |  SELECT key, substr(md5(array_to_string(w[i:i+1], ' ')), 1, 2) AS b
        |  FROM (
        |    SELECT doc_id AS key,
        |      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w,
        |      unnest(generate_series(1,
        |        len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) - 1)) AS i
        |    FROM documents
        |    WHERE len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) >= 2)),
        |tgtb AS (
        |  SELECT substr(md5(array_to_string(w[i:i+1], ' ')), 1, 2) AS b
        |  FROM (
        |    SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w,
        |      unnest(generate_series(1,
        |        len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) - 1)) AS i
        |    FROM documents
        |    WHERE source IN ('src0', 'src1', 'src2')
        |      AND len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) >= 2)),
        |cr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM rawb GROUP BY b),
        |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tgtb GROUP BY b),
        |nr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM cr),
        |nt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM ct),
        |ratio AS (
        |  SELECT b,
        |    ln((CAST(coalesce(ct, 0) AS DOUBLE) + 0.5) / (CAST(nt AS DOUBLE) + 128.0)) -
        |    ln((CAST(coalesce(cr, 0) AS DOUBLE) + 0.5) / (CAST(nr AS DOUBLE) + 128.0)) AS lr
        |  FROM cr FULL OUTER JOIN ct USING (b) CROSS JOIN nr CROSS JOIN nt),
        |dc AS (SELECT key, b, CAST(count(*) AS BIGINT) AS c FROM rawb GROUP BY key, b)
        |SELECT key AS doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
        |  round(CAST(sum(CAST(CAST(c AS DOUBLE) * lr AS DECIMAL(38,12))) AS DOUBLE), 6)
        |    AS weight
        |FROM dc JOIN ratio USING (b) GROUP BY key
        |ORDER BY doc_id""".stripMargin,

    "q_vwap" ->
      """SELECT l_suppkey, CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
        |  floor((CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(30,4))) AS DOUBLE) /
        |    CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)) * 1e6) / 1e6 AS vwap,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS vol,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2
        |ORDER BY l_suppkey, month""".stripMargin,

    "q_drawdown" ->
      """SELECT event_id, user_id, ts, value,
        |  max(value) OVER w AS run_max,
        |  round((max(value) OVER w - value) / max(value) OVER w, 9) AS drawdown_pct
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_rsi" ->
      """WITH d AS (
        |  SELECT event_id, user_id, ts,
        |    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS delta
        |  FROM events),
        |g AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN delta IS NULL THEN NULL ELSE greatest(delta, 0.0) END AS gain,
        |    CASE WHEN delta IS NULL THEN NULL ELSE greatest(-delta, 0.0) END AS loss
        |  FROM d),
        |a AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(sum(CAST(gain AS DECIMAL(30,10))) OVER w AS DOUBLE) /
        |      CAST(count(gain) OVER w AS DOUBLE) AS avg_gain,
        |    CAST(sum(CAST(loss AS DECIMAL(30,10))) OVER w AS DOUBLE) /
        |      CAST(count(loss) OVER w AS DOUBLE) AS avg_loss
        |  FROM g
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts,
        |  round(CASE WHEN avg_loss = 0 THEN 100.0
        |    ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END, 9) AS rsi
        |FROM a ORDER BY user_id, ts, event_id""".stripMargin,

    "q_bollinger" ->
      """WITH s AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(count(*) OVER w AS DOUBLE) AS cnt,
        |    CAST(sum(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(30,10))) OVER w AS DOUBLE) AS sxx
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts,
        |  round(sx / cnt, 9) AS sma,
        |  round(sx / cnt + 2.0 * sqrt(greatest(sxx / cnt - (sx / cnt) * (sx / cnt), 0.0)), 9)
        |    AS upper,
        |  round(sx / cnt - 2.0 * sqrt(greatest(sxx / cnt - (sx / cnt) * (sx / cnt), 0.0)), 9)
        |    AS lower,
        |  CASE
        |    WHEN value > sx / cnt + 2.0 * sqrt(greatest(sxx / cnt - (sx / cnt) * (sx / cnt), 0.0))
        |      THEN 'up'
        |    WHEN value < sx / cnt - 2.0 * sqrt(greatest(sxx / cnt - (sx / cnt) * (sx / cnt), 0.0))
        |      THEN 'down'
        |    ELSE 'none' END AS breakout
        |FROM s ORDER BY user_id, ts, event_id""".stripMargin,

    "q_corr_pairs" ->
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE), 9) AS v
        |  FROM events WHERE user_id % 7 = 0 GROUP BY 1, 2),
        |j AS (
        |  SELECT a.user_id AS user_a, b.user_id AS user_b, a.v AS va, b.v AS vb
        |  FROM daily a JOIN daily b USING (day) WHERE a.user_id < b.user_id),
        |m AS (
        |  SELECT user_a, user_b, count(*) AS n,
        |    sum(CAST(va AS DECIMAL(38,12))) AS sx,
        |    sum(CAST(vb AS DECIMAL(38,12))) AS sy,
        |    sum(CAST(va * va AS DECIMAL(38,12))) AS sxx,
        |    sum(CAST(vb * vb AS DECIMAL(38,12))) AS syy,
        |    sum(CAST(va * vb AS DECIMAL(38,12))) AS sxy
        |  FROM j GROUP BY 1, 2)
        |SELECT user_a, user_b, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 8) AS corr_xy
        |FROM m ORDER BY user_a, user_b""".stripMargin,

    "q_interpolate" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, epoch_us(ts) AS tm,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, ts, tm, v,
        |    last_value(v IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN tm END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    first_value(v IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN tm END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM e)
        |SELECT event_id, user_id, ts,
        |  CASE
        |    WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NULL THEN nv
        |    WHEN nv IS NULL THEN pv
        |    WHEN nt = pt THEN pv
        |    ELSE pv + (nv - pv) *
        |      (CAST(tm - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |  END AS value_interp
        |FROM w ORDER BY user_id, ts, event_id""".stripMargin,

    "q_shard_shuffle" ->
      """WITH s AS (
        |  SELECT doc_id AS key,
        |    md5('r5:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents)
        |SELECT key,
        |  CAST(concat('0x', substr(h, 1, 15)) AS BIGINT) % 8 AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY CAST(concat('0x', substr(h, 1, 15)) AS BIGINT) % 8
        |    ORDER BY h, key) AS BIGINT) AS pos
        |FROM s ORDER BY key""".stripMargin,

    "q_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id AS key, string_split_regex(lower(text), '\s+') AS w
        |  FROM documents
        |  WHERE len(string_split_regex(lower(text), '\s+')) >= 2),
        |bg AS (
        |  SELECT key, w[i] AS w1, w[i + 1] AS w2
        |  FROM (SELECT key, w,
        |      unnest(generate_series(1, len(w) - 1)) AS i
        |    FROM toks)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1)
        |SELECT key, count(*) AS n_bigrams,
        |  round(CAST(sum(CAST(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)
        |      AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
        |    AS lm_score
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY key ORDER BY key""".stripMargin,

    // Mirrors SparkEntry.boilerplateDocs (doc2 CTE) + Corpus
    // .boilerplateStrip: per-source line doc-frequency ≥ 30% of the
    // source's docs (and ≥ 2 docs) → removed from every doc.
    "q_boilerplate" ->
      """WITH base AS (
        |  SELECT doc_id AS key, source,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |body AS (
        |  SELECT key, source,
        |    string_agg(array_to_string(ws[li * 10 + 1 : li * 10 + 10], ' '),
        |      chr(10) ORDER BY li) AS body
        |  FROM (SELECT key, source, ws,
        |      unnest(generate_series(0, greatest(
        |        CAST(ceil(CAST(len(ws) AS DOUBLE) / 10.0) AS INTEGER) - 1, 0)))
        |        AS li
        |    FROM base)
        |  GROUP BY key, source),
        |doc2 AS (
        |  SELECT key, source,
        |    'read more about ' || source ||
        |    ' market coverage subscribe for daily updates' || chr(10) ||
        |    body || chr(10) ||
        |    'copyright ' || source ||
        |    ' press all rights reserved terms apply contact us' AS t
        |  FROM body),
        |lines AS (
        |  SELECT key, source, li, ls[li] AS line
        |  FROM (SELECT key, source, ls,
        |      unnest(generate_series(1, len(ls))) AS li
        |    FROM (SELECT key, source, string_split(t, chr(10)) AS ls
        |      FROM doc2))),
        |ndocs AS (
        |  SELECT source, count(DISTINCT key) AS ndocs
        |  FROM lines GROUP BY source),
        |bp AS (
        |  SELECT f.source, f.line
        |  FROM (SELECT source, line, count(DISTINCT key) AS nd
        |    FROM lines GROUP BY source, line) f
        |  JOIN ndocs n USING (source)
        |  WHERE f.nd >= 2 AND f.nd * 100 >= n.ndocs * 30),
        |flag AS (
        |  SELECT l.key, l.li, l.line, b.line IS NOT NULL AS is_bp
        |  FROM lines l
        |  LEFT JOIN bp b ON l.source = b.source AND l.line = b.line)
        |SELECT key,
        |  CAST(coalesce(sum(CASE WHEN NOT is_bp THEN 1 END), 0) AS BIGINT)
        |    AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN is_bp THEN 1 END), 0) AS BIGINT)
        |    AS n_removed,
        |  coalesce(string_agg(line, chr(10) ORDER BY li)
        |    FILTER (WHERE NOT is_bp), '') AS clean_text
        |FROM flag GROUP BY key ORDER BY key""".stripMargin,

    // Mirrors Corpus.dupNgramCoverage over the shared dupCorpus:
    // 10-word chunks; dup iff the chunk occurs in ≥ 2 distinct docs
    // (min ≠ max key per chunk GROUP, joined back — round-12 verdict
    // #1) and the chunk is non-empty (an empty/whitespace-only doc's
    // single empty chunk never counts duplicated — round-12 ADVICE).
    "q_dup_ngram_frac" ->
      """WITH corpus AS (
        |  SELECT doc_id AS key, text AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substr(text, 1, length(text) - 10)
        |  FROM documents),
        |base AS (
        |  SELECT key,
        |    list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS ws
        |  FROM corpus),
        |chunks AS (
        |  SELECT key, array_to_string(ws[li * 10 + 1 : li * 10 + 10], ' ')
        |    AS chunk
        |  FROM (SELECT key, ws,
        |      unnest(generate_series(0, greatest(
        |        CAST(ceil(CAST(len(ws) AS DOUBLE) / 10.0) AS INTEGER) - 1, 0)))
        |        AS li
        |    FROM base)),
        |verdict AS (
        |  SELECT chunk, min(key) <> max(key) AND chunk <> '' AS is_dup
        |  FROM chunks GROUP BY chunk),
        |f AS (
        |  SELECT key, is_dup FROM chunks JOIN verdict USING (chunk))
        |SELECT key, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(coalesce(sum(CASE WHEN is_dup THEN 1 END), 0) AS BIGINT)
        |    AS n_dup_chunks,
        |  round(CAST(coalesce(sum(CASE WHEN is_dup THEN 1 END), 0) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 9) AS dup_frac
        |FROM f GROUP BY key ORDER BY key""".stripMargin,

    // Bounded sketch/ML gates (round-12 verdict #3): these queries'
    // estimates are implementation-defined, so each emits its EXACT
    // audit side plus in-plan booleans asserting the documented error
    // bound / model invariants; the oracle replays the exact side and
    // literal TRUE. A sketch outside its bound or an invalid model
    // output now fails the hash compare instead of passing rows-only.
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(count(*) AS BIGINT) AS n, TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_approx_percentiles" ->
      """SELECT event_type, CAST(count(value) AS BIGINT) AS n,
        |  TRUE AS p50_ok, TRUE AS p90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_hll_merge" ->
      """SELECT * FROM (
        |  SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |    TRUE AS approx_ok
        |  FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT '__ALL__' AS event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT), TRUE
        |  FROM events)
        |ORDER BY event_type""".stripMargin,

    "q_ml_predict" ->
      """SELECT vec_id, CAST(label AS DOUBLE) AS label, TRUE AS pred_ok
        |FROM embeddings WHERE vec_id % 5 = 0 ORDER BY vec_id""".stripMargin,

    "q_ml_kmeans" ->
      """SELECT vec_id, TRUE AS cluster_ok, TRUE AS nearest_ok,
        |  TRUE AS k_ok
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // Mirrors TextAnalysis.zipfSlope: rank total-ordered (count desc,
    // token asc); x/y rounded to 12 dp before exact decimal moment
    // sums; slope in double, rounded to 6. Shared verbatim with
    // q_zipf_incremental (round-12 ADVICE: the incremental oracle IS
    // the cold fit — additivity — and a drifting copy would silently
    // weaken that check; one val keeps the contract structural).
    "q_zipf" -> zipfColdSql,

    // Incremental Zipf maintenance: the oracle is LITERALLY the cold
    // full-corpus fit — equality is the additivity theorem (the
    // maintained count table after all batches equals the one-shot
    // count; both engines fit the same table).
    "q_zipf_incremental" -> zipfColdSql,

    // Point-in-time Zipf: each as-of fit recomputed from the
    // batch-restricted corpus (batch 0 = doc_id % 3 = 0; latest = all
    // three batches), so hash-green proves the maintained vocab table's
    // HISTORICAL versions are exactly the batch-prefix statistics.
    "q_zipf_asof" ->
      s"""WITH ${zipfFitCtes("b0_", "WHERE doc_id % 3 = 0")},
         |${zipfFitCtes("l_", "")}
         |${zipfFitSelect("b0_", "'batch0' AS as_of, ")}
         |UNION ALL
         |${zipfFitSelect("l_", "'latest' AS as_of, ")}
         |ORDER BY as_of, lang""".stripMargin,

    // Mirrors TextAnalysis.ccnetBuckets: the q_bigram_lm score CTE,
    // per-lang exact ⅓/⅔ interpolated quantiles, ties fall LOW
    // (strict >).
    "q_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id AS key, string_split_regex(lower(text), '\s+') AS w
        |  FROM documents
        |  WHERE len(string_split_regex(lower(text), '\s+')) >= 2),
        |bg AS (
        |  SELECT key, w[i] AS w1, w[i + 1] AS w2
        |  FROM (SELECT key, w,
        |      unnest(generate_series(1, len(w) - 1)) AS i
        |    FROM toks)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |scored AS (
        |  SELECT key, round(CAST(sum(CAST(
        |      CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)
        |      AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
        |    AS lm_score
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  GROUP BY key),
        |sl AS (
        |  SELECT s.key, d.lang, s.lm_score
        |  FROM scored s JOIN documents d ON s.key = d.doc_id),
        |cut AS (
        |  SELECT lang,
        |    quantile_cont(lm_score, 1.0 / 3) AS c1,
        |    quantile_cont(lm_score, 2.0 / 3) AS c2
        |  FROM sl GROUP BY lang)
        |SELECT sl.key AS doc_id, sl.lang, sl.lm_score,
        |  CASE WHEN sl.lm_score > cut.c2 THEN 'head'
        |       WHEN sl.lm_score > cut.c1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sl JOIN cut USING (lang) ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id AS key,
        |    CAST(length(text) AS INTEGER) AS n_chars,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER)
        |      AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[.!?]')) AS DOUBLE) /
        |      CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '\b(the|a|and|of|to|in)\b')) AS DOUBLE) /
        |      CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1)
        |        AS DOUBLE) AS stop_ratio
        |  FROM documents)
        |SELECT key, n_chars, n_tokens, punct_ratio, stop_ratio,
        |  CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
        |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 +
        |    stop_ratio * 0.25 + punct_ratio * 0.25 AS score
        |FROM f ORDER BY key""".stripMargin,

    "q_corpus_stats" ->
      """WITH f AS (
        |  SELECT lang, source,
        |    CAST(length(text) AS INTEGER) AS n_chars,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER)
        |      AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[.!?]')) AS DOUBLE) /
        |      CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '\b(the|a|and|of|to|in)\b')) AS DOUBLE) /
        |      CAST(greatest(len(string_split_regex(trim(text), '\s+')), 1)
        |        AS DOUBLE) AS stop_ratio
        |  FROM documents),
        |sc AS (
        |  SELECT lang, source, n_chars, n_tokens,
        |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 +
        |      stop_ratio * 0.25 + punct_ratio * 0.25 AS score
        |  FROM f)
        |SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(CAST(sum(CAST(score AS DECIMAL(25,15))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE), 9) AS mean_score
        |FROM sc GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id AS key,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER)
        |    AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens
        |FROM documents ORDER BY key""".stripMargin,

    "q_repetition" ->
      """WITH base AS (
        |  SELECT doc_id AS key,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |wc AS (
        |  SELECT key, w, count(*) AS c
        |  FROM (SELECT key, unnest(ws) AS w FROM base) GROUP BY key, w),
        |words AS (
        |  SELECT key, CAST(sum(c) AS BIGINT) AS n_words, max(c) AS max_word_cnt
        |  FROM wc GROUP BY key),
        |g AS (
        |  SELECT key, array_to_string(ws[i:i+1], ' ') AS g FROM (
        |    SELECT key, ws,
        |      unnest(generate_series(1, greatest(len(ws) - 1, 1))) AS i
        |    FROM base)),
        |grams AS (
        |  SELECT key, count(*) AS n_grams,
        |    count(DISTINCT g) AS n_distinct_grams
        |  FROM g GROUP BY key)
        |SELECT key, n_words,
        |  CAST(max_word_cnt AS DOUBLE) / CAST(n_words AS DOUBLE)
        |    AS top_word_frac,
        |  1.0 - CAST(n_distinct_grams AS DOUBLE) / CAST(n_grams AS DOUBLE)
        |    AS dup_2gram_frac
        |FROM words JOIN grams USING (key) ORDER BY key""".stripMargin,

    "q_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents),
        |p AS (
        |  SELECT substr(w, i, 2) AS pair FROM (
        |    SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        |    FROM w WHERE len(w) > 1))
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p
        |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    // BPE training: 8 unrolled rounds; each round = weighted adjacent-
    // pair count → deterministic argmax → two-pass literal replace
    // (same leftmost non-overlapping scan as Spark's replace — the
    // two-pass semantics, NOT greedy merging of same-symbol runs ≥ 5;
    // see TextAnalysis.bpeTrain for the exact contract). Parity holds
    // because both engines run the identical two passes.
    "q_bpe_train" -> {
      val k = 8
      val tail = (1 to k).map { r =>
        s"SELECT CAST($r AS INTEGER) AS merge_no, lhs, rhs, cnt, " +
          s"lhs || rhs AS merged FROM b$r"
      }.mkString("\nUNION ALL ")
      s"${bpeCtes(k)}\n$tail\nORDER BY merge_no"
    },

    // BPE encode: the token vocabulary after the k learned merges —
    // same CTE chain as q_bpe_train, read out of the final symbol table.
    "q_bpe_vocab" -> {
      val k = 8
      // tail stripped separately: an outer stripMargin would also eat
      // the '||' concatenations inside the interpolated CTE chain
      val tail =
        s"""SELECT token, CAST(sum(freq) AS BIGINT) AS cnt,
           |  CAST(count(*) AS BIGINT) AS n_words
           |FROM (SELECT freq, unnest(string_split(trim(s), ' ')) AS token
           |      FROM s$k)
           |GROUP BY token ORDER BY token""".stripMargin
      s"${bpeCtes(k)}\n$tail"
    },


    "q_fingerprint" ->
      """WITH sh AS (
        |  SELECT DISTINCT key, substr(t, i, 8) AS shingle FROM (
        |    SELECT doc_id AS key, text AS t,
        |      unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
        |    FROM documents)),
        |h AS (
        |  SELECT key, md5(shingle) AS h,
        |    row_number() OVER (PARTITION BY key ORDER BY md5(shingle)) AS rn
        |  FROM sh)
        |SELECT key, string_agg(h, '' ORDER BY h) AS fingerprint
        |FROM h WHERE rn <= 4 GROUP BY key ORDER BY key""".stripMargin,

    "q_stream_candles" ->
      """SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS vsum,
        |  min(value) AS vmin, max(value) AS vmax
        |FROM events GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin,

    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // sliding 2-day/1-day windows, epoch-aligned: every event belongs to
    // the windows starting at day(ts) − 1 day and day(ts)
    "q_stream_sliding" ->
      """WITH ev AS (
        |  SELECT event_type, value,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
        |  FROM events),
        |x AS (
        |  SELECT event_type, value, d - INTERVAL 1 DAY AS w_start FROM ev
        |  UNION ALL
        |  SELECT event_type, value, d FROM ev)
        |SELECT event_type, w_start, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS vsum
        |FROM x GROUP BY 1, 2 ORDER BY event_type, w_start""".stripMargin,

    "q_bucket_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,10)))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // Session windows in Append mode emit only sessions closed before the
    // FINAL watermark, which AvailableNow over a static dir makes
    // expressible: watermark = max(ts) − 1 day, a session = a maximal run
    // with gaps < 30 min (session_window merges on [ts, ts+gap) overlap,
    // so a gap of exactly 30 min starts a new session), session end =
    // last ts + 30 min, emitted iff end ≤ watermark.
    "q_stream_sessions" ->
      """WITH b AS (
        |  SELECT event_id, user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM b),
        |sess AS (
        |  SELECT user_id,
        |    min(ts) AS s_start,
        |    max(ts) + INTERVAL 30 MINUTE AS s_end,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS vsum
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, s_start, s_end, n, vsum FROM sess
        |WHERE epoch_us(s_end) <=
        |  (SELECT max(epoch_us(ts)) - 86400000000 FROM events)
        |ORDER BY user_id, s_start""".stripMargin,

    "q_stream_ffill" -> streamFfillSql,

    // transformWithState twin of q_stream_ffill: same semantics, same SQL
    "q_stream_ffill_tws" -> streamFfillSql,

    "q_interval_join" ->
      """SELECT v.event_id, v.user_id, v.ts,
        |  p.event_id AS q_event_id, p.ts AS q_ts
        |FROM events v
        |JOIN events p ON p.user_id = v.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts
        |  AND epoch_us(p.ts) < epoch_us(v.ts) + 3600000000
        |ORDER BY v.event_id, q_event_id""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_rank_funcs" ->
      """WITH spend AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS spend
        |  FROM events GROUP BY event_type, user_id)
        |SELECT event_type, user_id, spend,
        |  CAST(rank() OVER w AS INTEGER) AS rnk,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |  CAST(ntile(4) OVER w AS INTEGER) AS tile
        |FROM spend
        |WINDOW w AS (PARTITION BY event_type ORDER BY spend DESC, user_id)
        |ORDER BY event_type, rnk, user_id""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type, quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DECIMAL(38,4))
        |    AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_salted_join" ->
      """SELECT o_orderpriority,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(30,10))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_ann_ivf" -> ivfRecomputeSql(qMax = 10, k = 3),

    // The indexed probe stores the same centroid assignment it would
    // recompute (parquet round-trips floats and decimals exactly), so
    // indexed == recomputed IS the contract, checked by sharing the
    // recompute oracle verbatim.
    "q_ann_ivf_indexed" -> ivfRecomputeSql(qMax = 10, k = 3),

    // Streaming probe: per-query top-k depends only on the stored index
    // and that query row, so the union over micro-batches equals the
    // batch recompute.
    "q_stream_ann" -> ivfRecomputeSql(qMax = 40, k = 3),

    // IVF post-append audit: centroids FROZEN at the base build
    // (vec_id < 16 of the base corpus), two appended exact-copy
    // batches assigned to them, per-list sizes + recall@5 of the
    // appended index vs brute force over base ∪ appends. Mirrors
    // Similarity.appendToIvfIndex + ivfTopKIndexed arithmetic exactly.
    "q_ann_ivf_append_audit" ->
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
         |app AS (
         |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
         |  WHERE vec_id >= 16 AND vec_id % 7 = 1
         |  UNION ALL
         |  SELECT vec_id + 200000, embedding FROM embeddings
         |  WHERE vec_id >= 16 AND vec_id % 7 = 2),
         |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM app),
         |n AS (
         |  SELECT vec_id, embedding,
         |    ${dotSql("embedding", "embedding")} AS n2
         |  FROM corpus),
         |cents AS (SELECT vec_id AS cent_id, embedding AS cvec, n2 AS cn2
         |  FROM n WHERE vec_id < 16),
         |corpus_sc AS (
         |  SELECT a.vec_id, a.embedding, a.n2, c.cent_id,
         |    CAST(${dotSql("a.embedding", "c.cvec")} AS DOUBLE) /
         |      (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))
         |      AS ccos
         |  FROM n a, cents c),
         |assigned AS (
         |  SELECT vec_id AS neighbor_id, embedding AS nv, n2 AS nn2, cent_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cent_id) AS crn FROM corpus_sc)
         |  WHERE crn = 1),
         |lists AS (
         |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vectors
         |  FROM assigned GROUP BY cent_id),
         |probes AS (
         |  SELECT vec_id AS query_id, embedding AS qv, n2 AS qn2, cent_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cent_id) AS crn FROM corpus_sc
         |    WHERE vec_id < 10)
         |  WHERE crn <= 2),
         |iscored AS (
         |  SELECT p.query_id, a.neighbor_id,
         |    CAST(${dotSql("p.qv", "a.nv")} AS DOUBLE) /
         |      (sqrt(CAST(p.qn2 AS DOUBLE)) * sqrt(CAST(a.nn2 AS DOUBLE)))
         |      AS cos
         |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
         |    AND a.neighbor_id <> p.query_id),
         |topk AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rnk FROM iscored)
         |  WHERE rnk <= 5),
         |q AS (SELECT * FROM n WHERE vec_id < 10),
         |gp AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(${dotSql("q.embedding", "c.embedding")} AS DOUBLE) /
         |      (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS cos
         |  FROM q, n c WHERE c.vec_id <> q.vec_id),
         |ground AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rnk FROM gp)
         |  WHERE rnk <= 5),
         |rec AS (
         |  SELECT CAST(sum(CASE WHEN g.query_id IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS hits,
         |    CAST(count(DISTINCT t.query_id) AS BIGINT) AS n_queries
         |  FROM topk t LEFT JOIN ground g
         |    ON g.query_id = t.query_id AND g.neighbor_id = t.neighbor_id)
         |SELECT lists.cent_id, lists.n_vectors, rec.hits, rec.n_queries,
         |  round(CAST(rec.hits AS DOUBLE) /
         |    CAST(rec.n_queries * 5 AS DOUBLE), 6) AS recall_at_5
         |FROM lists CROSS JOIN rec ORDER BY lists.cent_id""".stripMargin,

    // IVF rebalance: replays the FULL chain — frozen assignment of 150
    // exact copies of vec 20, the integer-exact oversize rule
    // (n·2·lists > 3·total ⇔ n > 1.5×mean ⇔ Spark's n > 3t DIV 2l),
    // smallest-two-ids seeds, TWO Lloyd rounds of cosine 2-means with
    // decimal-exact positionwise means (one double division, cast to
    // FLOAT — the stored vector type), renumbered sub-lists
    // (1000000 + 2·cent + sub), then probes against the rebalanced
    // centroid set. Hash-green = the rebalance equals this recompute.
    "q_ann_ivf_rebalance" -> {
      def meansSql(aTbl: String): String =
        s"""  SELECT cent_id, sub, pos,
           |    CAST(CAST(sum(dv) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           |      AS FLOAT) AS mv
           |  FROM (
           |    SELECT a.cent_id, a.sub,
           |      unnest(generate_series(1, len(m.nv))) AS pos,
           |      unnest(list_transform(m.nv,
           |        x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(30,12)))) AS dv
           |    FROM $aTbl a JOIN mem m USING (cent_id, neighbor_id))
           |  GROUP BY cent_id, sub, pos""".stripMargin
      def assignSql(seedTbl: String): String =
        s"""  SELECT cent_id, neighbor_id, sub FROM (
           |    SELECT m.cent_id, m.neighbor_id, s.sub,
           |      row_number() OVER (PARTITION BY m.cent_id, m.neighbor_id
           |        ORDER BY CAST(${dotSql("m.nv", "s.svec")} AS DOUBLE) /
           |          (sqrt(CAST(m.nn2 AS DOUBLE)) *
           |            sqrt(CAST(s.sn2 AS DOUBLE))) DESC,
           |          s.sub ASC) AS arn
           |    FROM mem m JOIN $seedTbl s USING (cent_id))
           |  WHERE arn = 1""".stripMargin
      val head =
        s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
           |app AS (
           |  SELECT 100000 + i AS vec_id, e.embedding
           |  FROM generate_series(1, 150) AS g(i)
           |  CROSS JOIN (SELECT embedding FROM embeddings
           |    WHERE vec_id = 20) e),
           |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM app),
           |n AS (
           |  SELECT vec_id, embedding,
           |    ${dotSql("embedding", "embedding")} AS n2
           |  FROM corpus),
           |cents AS (SELECT vec_id AS cent_id, embedding AS cvec, n2 AS cn2
           |  FROM n WHERE vec_id < 16),
           |corpus_sc AS (
           |  SELECT a.vec_id, a.embedding, a.n2, c.cent_id,
           |    CAST(${dotSql("a.embedding", "c.cvec")} AS DOUBLE) /
           |      (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))
           |      AS ccos
           |  FROM n a, cents c),
           |assigned AS (
           |  SELECT vec_id AS neighbor_id, embedding AS nv, n2 AS nn2, cent_id
           |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY ccos DESC, cent_id) AS crn FROM corpus_sc)
           |  WHERE crn = 1),
           |stats AS (SELECT CAST(count(*) AS BIGINT) AS t,
           |    CAST(count(DISTINCT cent_id) AS BIGINT) AS l
           |  FROM assigned),
           |over_l AS (
           |  SELECT cent_id FROM
           |    (SELECT cent_id, CAST(count(*) AS BIGINT) AS nn
           |     FROM assigned GROUP BY cent_id)
           |    CROSS JOIN stats
           |  WHERE nn * 2 * l > 3 * t),
           |mem AS (SELECT a.* FROM assigned a JOIN over_l USING (cent_id)),
           |seeds AS (
           |  SELECT cent_id, CAST(rn - 1 AS INTEGER) AS sub,
           |    nv AS svec, nn2 AS sn2
           |  FROM (SELECT *, row_number() OVER (PARTITION BY cent_id
           |    ORDER BY neighbor_id) AS rn FROM mem)
           |  WHERE rn <= 2),
           |a1 AS (
           |${assignSql("seeds")}),
           |m1pos AS (
           |${meansSql("a1")}),
           |m1 AS (
           |  SELECT cent_id, sub, list(mv ORDER BY pos) AS svec
           |  FROM m1pos GROUP BY cent_id, sub),
           |m1n AS (SELECT cent_id, sub, svec,
           |  ${dotSql("svec", "svec")} AS sn2 FROM m1),
           |a2 AS (
           |${assignSql("m1n")}),
           |m2pos AS (
           |${meansSql("a2")}),
           |m2 AS (
           |  SELECT cent_id, sub, list(mv ORDER BY pos) AS svec
           |  FROM m2pos GROUP BY cent_id, sub),
           |m2n AS (SELECT cent_id, sub, svec,
           |  ${dotSql("svec", "svec")} AS sn2 FROM m2),
           |newpost AS (
           |  SELECT m.neighbor_id, m.nv, m.nn2,
           |    1000000 + 2 * a.cent_id + a.sub AS cent_id
           |  FROM a2 a JOIN mem m USING (cent_id, neighbor_id)),
           |allpost AS (
           |  SELECT neighbor_id, nv, nn2, cent_id FROM assigned
           |  WHERE cent_id NOT IN (SELECT cent_id FROM over_l)
           |  UNION ALL SELECT neighbor_id, nv, nn2, cent_id FROM newpost),
           |allcents AS (
           |  SELECT cent_id, cvec, cn2 FROM cents
           |  WHERE cent_id NOT IN (SELECT cent_id FROM over_l)
           |  UNION ALL
           |  SELECT 1000000 + 2 * cent_id + sub AS cent_id,
           |    svec AS cvec, sn2 AS cn2 FROM m2n),
           |qn AS (SELECT * FROM n WHERE vec_id < 10),
           |probe_sc AS (
           |  SELECT q.vec_id, q.embedding, q.n2, c.cent_id,
           |    CAST(${dotSql("q.embedding", "c.cvec")} AS DOUBLE) /
           |      (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))
           |      AS ccos
           |  FROM qn q, allcents c),
           |probes AS (
           |  SELECT vec_id AS query_id, embedding AS qv, n2 AS qn2, cent_id
           |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
           |    ORDER BY ccos DESC, cent_id) AS crn FROM probe_sc)
           |  WHERE crn <= 2),
           |iscored AS (
           |  SELECT p.query_id, a.neighbor_id,
           |    CAST(${dotSql("p.qv", "a.nv")} AS DOUBLE) /
           |      (sqrt(CAST(p.qn2 AS DOUBLE)) * sqrt(CAST(a.nn2 AS DOUBLE)))
           |      AS cos
           |  FROM probes p JOIN allpost a ON a.cent_id = p.cent_id
           |    AND a.neighbor_id <> p.query_id),
           |topk AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rnk FROM iscored)
           |  WHERE rnk <= 5),
           |gp AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    CAST(${dotSql("q.embedding", "c.embedding")} AS DOUBLE) /
           |      (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           |      AS cos
           |  FROM qn q, n c WHERE c.vec_id <> q.vec_id),
           |ground AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rnk FROM gp)
           |  WHERE rnk <= 5),
           |rec AS (
           |  SELECT CAST(sum(CASE WHEN g.query_id IS NOT NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS hits,
           |    CAST(count(DISTINCT t.query_id) AS BIGINT) AS n_queries
           |  FROM topk t LEFT JOIN ground g
           |    ON g.query_id = t.query_id AND g.neighbor_id = t.neighbor_id),
           |lists AS (
           |  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vectors
           |  FROM allpost GROUP BY cent_id)
           |SELECT lists.cent_id, lists.n_vectors, rec.hits, rec.n_queries,
           |  round(CAST(rec.hits AS DOUBLE) /
           |    CAST(rec.n_queries * 5 AS DOUBLE), 6) AS recall_at_5
           |FROM lists CROSS JOIN rec ORDER BY lists.cent_id""".stripMargin
      head
    },

    "q_stream_enrich" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 4) AS vsum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_cube" ->
      """SELECT event_type, user_id % 5 AS u_mod, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 4) AS vsum
        |FROM events
        |GROUP BY CUBE(event_type, user_id % 5)
        |ORDER BY event_type ASC NULLS FIRST, u_mod ASC NULLS FIRST""".stripMargin,

    "q_rolling_fingerprint" -> {
      // ((…(0·B + c₁) % M)·B + c₂) % M … over the 8 shingle chars
      val roll = (1 to 8).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
        s"(($acc * 257 + ascii(substr(shingle, $j, 1))) % 1000000007)"
      }
      s"""WITH sh AS (
         |  SELECT DISTINCT key, substr(t, i, 8) AS shingle FROM (
         |    SELECT doc_id AS key, text AS t,
         |      unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
         |    FROM documents)),
         |h AS (SELECT key, $roll AS h FROM sh)
         |SELECT key,
         |  array_to_string(list_slice(list_sort(list(h)), 1, 4), ':')
         |    AS fingerprint
         |FROM h GROUP BY key ORDER BY key""".stripMargin
    },

    "q_range_frame" ->
      """SELECT event_id, user_id, ts,
        |  CAST(sum(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE)
        |    AS trailing_1h_sum,
        |  count(*) OVER w AS trailing_1h_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_merge_upsert" ->
      """WITH existing AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT coalesce(i.o_orderkey, e.o_orderkey) AS o_orderkey,
        |  CASE WHEN i.o_orderkey IS NOT NULL THEN i.o_custkey
        |       ELSE e.o_custkey END AS o_custkey,
        |  CASE WHEN i.o_orderkey IS NOT NULL THEN i.o_totalprice
        |       ELSE e.o_totalprice END AS o_totalprice,
        |  CASE WHEN i.o_orderkey IS NOT NULL AND e.o_orderkey IS NOT NULL
        |         THEN 'updated'
        |       WHEN i.o_orderkey IS NOT NULL THEN 'inserted'
        |       ELSE 'kept' END AS merge_action
        |FROM existing e FULL OUTER JOIN incoming i
        |  ON e.o_orderkey = i.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_scd2" ->
      """WITH existing AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    TIMESTAMP '2024-01-01' AS valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |closed AS (
        |  SELECT e.o_orderkey, e.o_custkey, e.o_totalprice, e.valid_from,
        |    CASE WHEN i.o_orderkey IS NOT NULL THEN TIMESTAMP '2024-06-01'
        |         ELSE e.valid_to END AS valid_to,
        |    CASE WHEN i.o_orderkey IS NOT NULL THEN false
        |         ELSE e.is_current END AS is_current
        |  FROM existing e LEFT JOIN incoming i ON e.o_orderkey = i.o_orderkey),
        |newv AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    TIMESTAMP '2024-06-01' AS valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
        |  FROM incoming)
        |SELECT * FROM closed UNION ALL SELECT * FROM newv
        |ORDER BY o_orderkey, valid_from""".stripMargin,

    "q_scd2_asof" ->
      """WITH existing AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    TIMESTAMP '2024-01-01' AS valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |closed AS (
        |  SELECT e.o_orderkey, e.o_custkey, e.o_totalprice, e.valid_from,
        |    CASE WHEN i.o_orderkey IS NOT NULL THEN TIMESTAMP '2024-06-01'
        |         ELSE e.valid_to END AS valid_to
        |  FROM existing e LEFT JOIN incoming i ON e.o_orderkey = i.o_orderkey),
        |newv AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    TIMESTAMP '2024-06-01' AS valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to
        |  FROM incoming),
        |hist AS (SELECT * FROM closed UNION ALL SELECT * FROM newv),
        |t AS (SELECT unnest([TIMESTAMP '2024-03-01 00:00:00',
        |  TIMESTAMP '2024-09-01 00:00:00']) AS as_of)
        |SELECT t.as_of, h.o_orderkey, h.o_custkey, h.o_totalprice
        |FROM hist h CROSS JOIN t
        |WHERE h.valid_from <= t.as_of
        |  AND (h.valid_to IS NULL OR h.valid_to > t.as_of)
        |ORDER BY as_of, o_orderkey""".stripMargin,

    "q_stream_interval_join" ->
      """SELECT v.event_id, v.user_id, v.ts,
        |  p.event_id AS q_event_id, p.ts AS q_ts
        |FROM events v
        |JOIN events p ON p.user_id = v.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts
        |  AND epoch_us(p.ts) < epoch_us(v.ts) + 3600000000
        |ORDER BY v.event_id, q_event_id""".stripMargin,

    // Outer interval join: the stream null-extends a view only once the
    // final watermark (min of the two sides' max event time, minus the
    // 1h delay) proves no purchase can still match — i.e. strictly
    // after view.ts + 1h. The inner matches are watermark-independent.
    "q_stream_interval_outer" ->
      """WITH v AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id AS q_event_id, user_id AS q_user_id, ts AS q_ts
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least((SELECT max(ts) FROM v), (SELECT max(q_ts) FROM p))
        |    - INTERVAL 1 HOUR AS w),
        |matched AS (
        |  SELECT v.event_id, v.user_id, v.ts, p.q_event_id, p.q_ts
        |  FROM v JOIN p ON p.q_user_id = v.user_id AND p.q_ts >= v.ts
        |    AND epoch_us(p.q_ts) < epoch_us(v.ts) + 3600000000),
        |unmatched AS (
        |  SELECT v.event_id, v.user_id, v.ts,
        |    CAST(NULL AS BIGINT) AS q_event_id,
        |    CAST(NULL AS TIMESTAMP) AS q_ts
        |  FROM v, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.q_user_id = v.user_id
        |      AND p.q_ts >= v.ts
        |      AND epoch_us(p.q_ts) < epoch_us(v.ts) + 3600000000)
        |    AND epoch_us(v.ts) + 3600000000 < epoch_us(wm.w))
        |SELECT * FROM matched UNION ALL SELECT * FROM unmatched
        |ORDER BY event_id, q_event_id""".stripMargin,

    "q_regexp_extract" ->
      """SELECT doc_id,
        |  regexp_extract(text, '\b(\w+)\b', 1) AS first_word,
        |  coalesce(array_to_string(regexp_extract_all(text, '\b(sc\w+)\b', 1),
        |    ','), '') AS sc_words,
        |  CAST(len(regexp_extract_all(text, '\bscan\b')) AS INTEGER)
        |    AS n_scan
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
        |ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" ->
      """SELECT event_id, event_type FROM events
        |WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) <
        |  CASE event_type
        |    WHEN 'click' THEN '20' WHEN 'error' THEN '80'
        |    WHEN 'purchase' THEN 'g0' WHEN 'signup' THEN 'g0'
        |    WHEN 'view' THEN '10' ELSE '00' END
        |ORDER BY event_id""".stripMargin,

    "q_topk_per_group" ->
      """SELECT event_type, event_id, value, CAST(rnk AS INTEGER) AS rnk
        |FROM (SELECT event_type, event_id, value,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id) AS rnk FROM events)
        |WHERE rnk <= 5 ORDER BY event_type, rnk""".stripMargin,

    "q_tfidf" ->
      """WITH words AS (
        |  SELECT doc_id AS key,
        |    unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT key, term, count(*) AS tf FROM words
        |  WHERE term <> '' GROUP BY key, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (
        |  SELECT key, term, tf, df,
        |    round(CAST(tf AS DOUBLE) *
        |      ln(CAST((SELECT n FROM nd) AS DOUBLE) / CAST(df AS DOUBLE)), 9)
        |      AS score
        |  FROM tf JOIN dfreq USING (term)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY key
        |  ORDER BY score DESC, term) AS rnk FROM scored)
        |SELECT key, term, tf, df, score, CAST(rnk AS INTEGER) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY key, rnk""".stripMargin,

    "q_tfidf_pairs" ->
      """WITH words AS (
        |  SELECT doc_id AS key,
        |    unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT key, term, count(*) AS tf FROM words
        |  WHERE term <> '' GROUP BY key, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf
        |  GROUP BY term HAVING count(*) <= 100),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |wts AS (
        |  SELECT key, term,
        |    CAST(tf AS DOUBLE) *
        |      ln(CAST((SELECT n FROM nd) AS DOUBLE) / CAST(df AS DOUBLE)) AS w
        |  FROM tf JOIN dfreq USING (term)),
        |norms AS (SELECT key, sum(CAST(w * w AS DECIMAL(38,12))) AS norm2
        |  FROM wts GROUP BY key),
        |dots AS (
        |  SELECT a.key AS key_a, b.key AS key_b,
        |    sum(CAST(a.w * b.w AS DECIMAL(38,12))) AS dot
        |  FROM wts a JOIN wts b USING (term)
        |  WHERE a.key < b.key GROUP BY 1, 2)
        |SELECT key_a, key_b,
        |  round(CAST(dot AS DOUBLE) /
        |    sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)), 6)
        |    AS cosine
        |FROM dots
        |JOIN norms na ON na.key = dots.key_a
        |JOIN norms nb ON nb.key = dots.key_b
        |ORDER BY cosine DESC, key_a, key_b LIMIT 50""".stripMargin,

    "q_gopher_rules" -> gopherRulesSql,

    // Stateless stream == batch: the same features with the gate cut
    // (all rules except the English-stopword one — vacuous on the
    // synthetic corpus; see the query comment).
    "q_stream_quality" ->
      s"""SELECT * FROM ($gopherRulesSql)
         |WHERE n_words >= 20 AND n_words <= 100000
         |  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |  AND symbol_ratio < 0.1 AND bullet_ratio < 0.9
         |  AND alpha_word_frac >= 0.8
         |ORDER BY key""".stripMargin,

    "q_asof_forward" ->
      """WITH probe AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |quote AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view'),
        |cand AS (
        |  SELECT p.event_id, q.ts AS matched_ts, q.value,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY q.ts, q.event_id) AS rn
        |  FROM probe p JOIN quote q
        |    ON q.user_id = p.user_id AND q.ts >= p.ts)
        |SELECT p.event_id, p.user_id, p.ts, c.matched_ts, c.value
        |FROM probe p
        |LEFT JOIN (SELECT event_id, matched_ts, value FROM cand
        |  WHERE rn = 1) c USING (event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_asof_nearest" ->
      """WITH probe AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |quote AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'view'),
        |cand AS (
        |  SELECT p.event_id, q.ts AS matched_ts, q.value,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY abs(epoch_us(q.ts) - epoch_us(p.ts)),
        |        CASE WHEN q.ts <= p.ts THEN 0 ELSE 1 END,
        |        CASE WHEN q.ts <= p.ts THEN -q.event_id
        |             ELSE q.event_id END) AS rn
        |  FROM probe p JOIN quote q
        |    ON q.user_id = p.user_id
        |    AND abs(epoch_us(q.ts) - epoch_us(p.ts)) <= 7200000000)
        |SELECT p.event_id, p.user_id, p.ts, c.matched_ts, c.value
        |FROM probe p
        |LEFT JOIN (SELECT event_id, matched_ts, value FROM cand
        |  WHERE rn = 1) c USING (event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q_entity_match" ->
      """WITH a AS (
        |  SELECT p_partkey AS key_a, p_name AS name_a,
        |    concat(substring(p_name, 1, 5), right(p_name, 3)) AS block
        |  FROM part),
        |b0 AS (
        |  SELECT p_partkey + 1000000 AS key_b,
        |    concat(substring(p_name, 1, 5), substring(p_name, 7)) AS name_b
        |  FROM part),
        |b AS (
        |  SELECT key_b, name_b,
        |    concat(substring(name_b, 1, 5), right(name_b, 3)) AS block
        |  FROM b0)
        |SELECT key_a, key_b, name_a, name_b,
        |  round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
        |FROM a JOIN b USING (block)
        |WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.9
        |ORDER BY key_a, key_b""".stripMargin,

    // Full recompute of the maintained rollup — the INCREMENTAL Spark
    // path must hash-equal this, which is the IVM correctness theorem
    // checked end-to-end (groups whose count reaches 0 disappear from
    // both sides).
    "q_incr_rollup" -> incrRollupRecomputeSql,

    // the STREAMING maintainer lands on the identical rollup for any
    // commit-ordered batch split — same recompute oracle, by design
    "q_stream_incr_rollup" -> incrRollupRecomputeSql,

    // Time-travel: EACH as-of point recomputed from the restricted
    // change log (batch 0 = ts < 2024-02-15 — u1 updates + inserts;
    // latest = the full log). Same winner/apply/rollup algebra as
    // incrRollupRecomputeSql, evaluated at two points in time.
    "q_ivm_time_travel" ->
      """WITH snap AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 = 0),
        |ch AS (
        |  SELECT o_orderkey, TIMESTAMP '2024-02-01 00:00:00' AS ts,
        |    1 AS seq, 'U' AS op, o_custkey,
        |    o_totalprice + 1000 AS o_totalprice
        |  FROM snap WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, TIMESTAMP '2024-03-01 00:00:00', 1, 'D',
        |    o_custkey, o_totalprice
        |  FROM snap WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, TIMESTAMP '2024-03-15 00:00:00', 2, 'U',
        |    o_custkey, o_totalprice * 2
        |  FROM snap WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, TIMESTAMP '2024-01-15 00:00:00',
        |    1, 'I', o_custkey, o_totalprice
        |  FROM snap WHERE o_orderkey % 11 = 0),
        |ch0 AS (SELECT * FROM ch WHERE ts < TIMESTAMP '2024-02-15 00:00:00'),
        |latest0 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |      ORDER BY ts DESC, seq DESC) AS rn FROM ch0)
        |  WHERE rn = 1),
        |applied0 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN l.op IS NOT NULL THEN l.o_custkey
        |         ELSE s.o_custkey END AS o_custkey,
        |    CASE WHEN l.op IS NOT NULL THEN l.o_totalprice
        |         ELSE s.o_totalprice END AS o_totalprice
        |  FROM snap s FULL OUTER JOIN latest0 l USING (o_orderkey)
        |  WHERE l.op IS NULL OR l.op <> 'D'),
        |latest1 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |      ORDER BY ts DESC, seq DESC) AS rn FROM ch)
        |  WHERE rn = 1),
        |applied1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN l.op IS NOT NULL THEN l.o_custkey
        |         ELSE s.o_custkey END AS o_custkey,
        |    CASE WHEN l.op IS NOT NULL THEN l.o_totalprice
        |         ELSE s.o_totalprice END AS o_totalprice
        |  FROM snap s FULL OUTER JOIN latest1 l USING (o_orderkey)
        |  WHERE l.op IS NULL OR l.op <> 'D'),
        |r0 AS (
        |  SELECT 'batch0' AS as_of, o_custkey % 50 AS grp,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE), 4)
        |      AS vsum
        |  FROM applied0 GROUP BY 2),
        |r1 AS (
        |  SELECT 'latest' AS as_of, o_custkey % 50 AS grp,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE), 4)
        |      AS vsum
        |  FROM applied1 GROUP BY 2)
        |SELECT as_of, grp, cnt, vsum FROM
        |  (SELECT * FROM r0 UNION ALL SELECT * FROM r1)
        |ORDER BY as_of, grp""".stripMargin,

    // Out-of-order delivery of the same log through the sequence
    // frontier converges to the identical full recompute — the
    // order-independence theorem checked end-to-end by sharing the
    // oracle verbatim.
    "q_stream_incr_ooo" -> incrRollupRecomputeSql,

    "q_drift_profile" ->
      s"""$cdcAppliedCtes,
        |pa AS (
        |  SELECT 'o_custkey' AS col_name, CAST(o_custkey AS DOUBLE) AS v
        |  FROM snap
        |  UNION ALL
        |  SELECT 'o_totalprice', CAST(o_totalprice AS DOUBLE) FROM snap),
        |pb AS (
        |  SELECT 'o_custkey' AS col_name, CAST(o_custkey AS DOUBLE) AS v
        |  FROM applied
        |  UNION ALL
        |  SELECT 'o_totalprice', CAST(o_totalprice AS DOUBLE) FROM applied),
        |profa AS (
        |  SELECT col_name, CAST(count(*) AS BIGINT) AS n_a,
        |    CAST(count(DISTINCT v) AS BIGINT) AS n_distinct_a,
        |    round(CAST(count(*) - count(v) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE), 6) AS null_frac_a,
        |    round(CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE) /
        |      CAST(count(v) AS DOUBLE), 6) AS mean_a
        |  FROM pa GROUP BY col_name),
        |profb AS (
        |  SELECT col_name, CAST(count(*) AS BIGINT) AS n_b,
        |    CAST(count(DISTINCT v) AS BIGINT) AS n_distinct_b,
        |    round(CAST(count(*) - count(v) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE), 6) AS null_frac_b,
        |    round(CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE) /
        |      CAST(count(v) AS DOUBLE), 6) AS mean_b
        |  FROM pb GROUP BY col_name)
        |SELECT col_name, n_a, n_distinct_a, null_frac_a, mean_a,
        |  n_b, n_distinct_b, null_frac_b, mean_b,
        |  round(abs(mean_a - mean_b), 6) AS mean_shift
        |FROM profa JOIN profb USING (col_name) ORDER BY col_name""".stripMargin,

    "q_cdc_apply" ->
      """WITH snap AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |ch AS (
        |  SELECT o_orderkey, TIMESTAMP '2024-02-01 00:00:00' AS ts,
        |    1 AS seq, 'U' AS op, o_custkey,
        |    o_totalprice + 1000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, TIMESTAMP '2024-03-01 00:00:00', 1, 'D',
        |    o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, TIMESTAMP '2024-03-15 00:00:00', 2, 'U',
        |    o_custkey, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, TIMESTAMP '2024-01-15 00:00:00',
        |    1, 'I', o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |      ORDER BY ts DESC, seq DESC) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT o_orderkey,
        |  CASE WHEN l.op IS NOT NULL THEN l.o_custkey
        |       ELSE s.o_custkey END AS o_custkey,
        |  CASE WHEN l.op IS NOT NULL THEN l.o_totalprice
        |       ELSE s.o_totalprice END AS o_totalprice
        |FROM snap s FULL OUTER JOIN latest l USING (o_orderkey)
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,

    // identical fixture + semantics as q_cdc_apply (frontier merge is
    // associative — batch split cannot change the outcome)
    "q_stream_cdc" ->
      """WITH snap AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |ch AS (
        |  SELECT o_orderkey, TIMESTAMP '2024-02-01 00:00:00' AS ts,
        |    1 AS seq, 'U' AS op, o_custkey,
        |    o_totalprice + 1000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, TIMESTAMP '2024-03-01 00:00:00', 1, 'D',
        |    o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, TIMESTAMP '2024-03-15 00:00:00', 2, 'U',
        |    o_custkey, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, TIMESTAMP '2024-01-15 00:00:00',
        |    1, 'I', o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |      ORDER BY ts DESC, seq DESC) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT o_orderkey,
        |  CASE WHEN l.op IS NOT NULL THEN l.o_custkey
        |       ELSE s.o_custkey END AS o_custkey,
        |  CASE WHEN l.op IS NOT NULL THEN l.o_totalprice
        |       ELSE s.o_totalprice END AS o_totalprice
        |FROM snap s FULL OUTER JOIN latest l USING (o_orderkey)
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,

    "q_orc_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 4) AS vsum
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_stream_json" ->
      """SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS vsum
        |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

    "q_skyline" ->
      """WITH pts AS (
        |  SELECT DISTINCT p_retailprice AS x, CAST(p_size AS BIGINT) AS y
        |  FROM part)
        |SELECT x, y FROM pts a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts b
        |  WHERE b.x <= a.x AND b.y <= a.y AND (b.x < a.x OR b.y < a.y))
        |ORDER BY x, y""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(least(greatest(floor((value - 0.0) / 25.0), 0.0), 23.0)
        |    AS INTEGER) AS bucket,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_moment_stats" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    CAST(props->>'k' AS DOUBLE) AS k
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(38,12))) AS sx,
        |    sum(CAST(k AS DECIMAL(38,12))) AS sy,
        |    sum(CAST(value * value AS DECIMAL(38,12))) AS sxx,
        |    sum(CAST(k * k AS DECIMAL(38,12))) AS syy,
        |    sum(CAST(value * k AS DECIMAL(38,12))) AS sxy
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n,
        |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 8) AS mean_x,
        |  round((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) /
        |    CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS var_x,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 8) AS corr_xy
        |FROM m ORDER BY event_type""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id,
        |  CAST(props->>'k' AS INTEGER) AS k_struct,
        |  CAST(props->>'k' AS INTEGER) AS k_path,
        |  CAST(props->>'k' AS INTEGER) % 10 AS k_bucket
        |FROM events ORDER BY event_id""".stripMargin,

    "q_embed_neardup" ->
      s"WITH $embedNearDupCtes\nSELECT id_a, id_b, cos FROM prs ORDER BY id_a, id_b",

    // Pairs -> connected components -> keep the min-id representative:
    // the survivors list of embedding dedup (shared CTEs with
    // q_embed_neardup; closure identical to q_dedup_clusters').
    "q_semantic_dedup" -> {
      val tail =
        """edges AS (
          |  SELECT id_a AS a, id_b AS b FROM prs
          |  UNION SELECT id_b, id_a FROM prs),
          |nds AS (SELECT DISTINCT a AS nd FROM edges),
          |reach(src, dst) AS (
          |  SELECT nd, nd FROM nds
          |  UNION
          |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
          |labels AS (
          |  SELECT src AS key, min(dst) AS cluster_id
          |  FROM reach GROUP BY src),
          |corpus_ids AS (
          |  SELECT vec_id FROM embeddings
          |  UNION ALL SELECT vec_id + 100000 FROM embeddings)
          |SELECT c.vec_id FROM corpus_ids c
          |LEFT JOIN (SELECT key FROM labels WHERE key <> cluster_id) d
          |  ON d.key = c.vec_id
          |WHERE d.key IS NULL ORDER BY vec_id""".stripMargin
      s"WITH RECURSIVE $embedNearDupCtes,\n$tail"
    },

    "q_explode_flatten" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |ORDER BY o_orderkey""".stripMargin,

    "q_set_ops" ->
      """SELECT user_id, 'both' AS rel FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, 'click_only' AS rel FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |ORDER BY rel, user_id""".stripMargin,

    "q_rollup" ->
      """SELECT event_type, CAST(month(ts) AS INTEGER) AS m, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 4) AS vsum
        |FROM events
        |GROUP BY ROLLUP(event_type, CAST(month(ts) AS INTEGER))
        |ORDER BY event_type ASC NULLS FIRST, m ASC NULLS FIRST""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id,
        |  CASE WHEN n_chars % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
        |  CAST(n_chars % 640 + 1 AS INTEGER) AS width,
        |  CAST(n_chars % 480 + 1 AS INTEGER) AS height,
        |  CAST((n_chars % 640 + 1) * (n_chars % 480 + 1) AS BIGINT)
        |    AS n_pixels,
        |  n_chars AS n_bytes,
        |  md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_redact_pii" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' ||
        |      CAST(doc_id AS VARCHAR) || '@example.com or +1 555-00' ||
        |      CAST(doc_id % 100 AS VARCHAR) || '99 from 10.0.' ||
        |      CAST(doc_id % 256 AS VARCHAR) || '.1'
        |    ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,3}[\s.-]?[\d\s().-]{5,}\d|(\(\d{3}\)[\s.-]?|\b\d{3}[\s.-])\d{3}[\s.-]\d{4}\b', '<PHONE>', 'g') AS clean,
        |  doc_id % 3 = 0 AS had_pii
        |FROM w ORDER BY doc_id""".stripMargin,

    // Composed CTE replay of the full cleaning pipeline; each stage is
    // the same SQL as its standalone oracle (q_lang_id, q_quality_score,
    // q_dedup_exact, q_minhash_pairs) over the previous stage's output.
    "q_corpus_clean" ->
      s"""WITH corpus AS (
         |  SELECT doc_id AS key, text AS t FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, substr(text, 1, length(text) - 10)
         |  FROM documents),
         |m(cand_lang, pattern) AS (VALUES
         |  ('en', '\\b(the|a|and|of)\\b'), ('es', '\\b(scan|row|data)\\b'),
         |  ('de', '\\b(join|merge|hash)\\b'), ('fr', '\\b(table|filter|sort)\\b'),
         |  ('zh', '\\b(query|group|order)\\b')),
         |ls AS (
         |  SELECT key, cand_lang,
         |    CAST(len(regexp_extract_all(lower(t), pattern)) AS INTEGER) AS hits
         |  FROM corpus, m),
         |lr AS (SELECT *, row_number() OVER (PARTITION BY key
         |  ORDER BY hits DESC, cand_lang) AS rn FROM ls),
         |lang_keep AS (SELECT key FROM lr WHERE rn = 1 AND cand_lang = 'de'),
         |q AS (
         |  SELECT key,
         |    CAST(len(string_split_regex(trim(t), '\\s+')) AS INTEGER) AS n_tokens,
         |    CAST(len(regexp_extract_all(t, '[.!?]')) AS DOUBLE) /
         |      CAST(greatest(length(t), 1) AS DOUBLE) AS punct_ratio,
         |    CAST(len(regexp_extract_all(lower(t),
         |      '\\b(the|a|and|of|to|in)\\b')) AS DOUBLE) /
         |      CAST(greatest(len(string_split_regex(trim(t), '\\s+')), 1)
         |        AS DOUBLE) AS stop_ratio
         |  FROM corpus),
         |qs AS (
         |  SELECT key, n_tokens,
         |    least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.5 +
         |      stop_ratio*0.25 + punct_ratio*0.25 AS score
         |  FROM q),
         |filtered AS (
         |  SELECT c.key, c.t, qs.score, qs.n_tokens FROM corpus c
         |  JOIN lang_keep lk ON lk.key = c.key
         |  JOIN qs ON qs.key = c.key AND qs.score >= 0.25),
         |exact AS (
         |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY md5(t)
         |    ORDER BY key) AS rn FROM filtered) WHERE rn = 1),
         |sh AS (
         |  SELECT DISTINCT key, md5(array_to_string(w[i:i+4], ' ')) AS shingle
         |  FROM (
         |    SELECT key, string_split_regex(t, '\\s+') AS w,
         |      unnest(generate_series(1,
         |        greatest(len(string_split_regex(t, '\\s+')) - 4, 1))) AS i
         |    FROM exact)),
         |mh AS (
         |  SELECT key, seed,
         |    min(substr(shingle || shingle, 1 + 4 * seed, 16)) AS mh
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
         |  GROUP BY key, seed),
         |bands AS (
         |  SELECT key, seed // 2 AS band,
         |    min(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
         |    min(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
         |  FROM mh GROUP BY key, seed // 2),
         |cand AS (
         |  SELECT DISTINCT a.key AS key_a, b.key AS key_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_val = b.band_val AND a.key < b.key),
         |cnt AS (SELECT key, count(*) AS cnt FROM sh GROUP BY key),
         |inter AS (
         |  SELECT c.key_a, c.key_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN sh a ON a.key = c.key_a
         |  JOIN sh b ON b.key = c.key_b AND b.shingle = a.shingle
         |  GROUP BY c.key_a, c.key_b),
         |jac AS (
         |  SELECT i.key_a, i.key_b,
         |    CAST(n_inter AS DOUBLE) /
         |      CAST(ca.cnt + cb.cnt - n_inter AS DOUBLE) AS jacc
         |  FROM inter i
         |  JOIN cnt ca ON ca.key = i.key_a
         |  JOIN cnt cb ON cb.key = i.key_b),
         |dropk AS (SELECT DISTINCT key_b AS key FROM jac WHERE jacc >= 0.5)
         |SELECT e.key, e.score, e.n_tokens FROM exact e
         |WHERE NOT EXISTS (SELECT 1 FROM dropk d WHERE d.key = e.key)
         |ORDER BY e.key""".stripMargin,

    // Round-9 capstone: chained CTE replay of the FULL curation
    // pipeline — gopher gate (no-stopword form) → exact dedup →
    // minhash near-dup (same CTEs as q_corpus_clean) → 3-gram
    // decontamination vs the doc_id%97 eval split → √n temperature
    // rates at budget 500 → 512-token sequence packing. Each stage is
    // the same SQL as its standalone oracle over the previous stage's
    // output, so the hash compare proves the COMPOSITION.
    "q_pipeline_curate" ->
      """WITH base AS (
        |  SELECT doc_id, text, lang, source FROM documents),
        |corpus AS (
        |  SELECT doc_id AS key, text AS t, lang, source FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source FROM base
        |  UNION ALL
        |  SELECT doc_id + 2000000, substr(text, 1, length(text) - 10),
        |    lang, source FROM base),
        |fw AS (
        |  SELECT key, t,
        |    list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS ws,
        |    list_filter(string_split(t, chr(10)), l -> trim(l) <> '') AS ls
        |  FROM corpus),
        |g AS (
        |  SELECT key,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    round(CAST(list_aggregate(list_transform(ws, x -> length(x)),
        |        'sum') AS DOUBLE) / CAST(greatest(len(ws), 1) AS DOUBLE), 6)
        |      AS mean_word_len,
        |    round((CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE) +
        |      CAST(length(t) - length(replace(t, '...', '')) AS DOUBLE) / 3)
        |      / CAST(greatest(len(ws), 1) AS DOUBLE), 6) AS symbol_ratio,
        |    round(CAST(len(list_filter(ls, l ->
        |        starts_with(trim(l), '-') OR starts_with(trim(l), '*')
        |        OR starts_with(trim(l), '•'))) AS DOUBLE) /
        |      CAST(greatest(len(ls), 1) AS DOUBLE), 6) AS bullet_ratio,
        |    round(CAST(len(list_filter(ws, x ->
        |        regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) /
        |      CAST(greatest(len(ws), 1) AS DOUBLE), 6) AS alpha_word_frac
        |  FROM fw),
        |gated AS (
        |  SELECT c.key, c.t, c.lang, c.source FROM corpus c
        |  JOIN g ON g.key = c.key
        |  WHERE g.n_words >= 20 AND g.n_words <= 100000
        |    AND g.mean_word_len >= 3.0 AND g.mean_word_len <= 10.0
        |    AND g.symbol_ratio < 0.1 AND g.bullet_ratio < 0.9
        |    AND g.alpha_word_frac >= 0.8),
        |exact AS (
        |  SELECT key, t, lang, source FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(t)
        |      ORDER BY key) AS rn
        |    FROM gated) WHERE rn = 1),
        |sh AS (
        |  SELECT DISTINCT key, md5(array_to_string(w[i:i+4], ' ')) AS shingle
        |  FROM (
        |    SELECT key, string_split_regex(t, '\s+') AS w,
        |      unnest(generate_series(1,
        |        greatest(len(string_split_regex(t, '\s+')) - 4, 1))) AS i
        |    FROM exact)),
        |mh AS (
        |  SELECT key, seed,
        |    min(substr(shingle || shingle, 1 + 4 * seed, 16)) AS mh
        |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
        |  GROUP BY key, seed),
        |bands AS (
        |  SELECT key, seed // 2 AS band,
        |    min(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
        |    min(CASE WHEN seed % 2 = 1 THEN mh END) AS band_val
        |  FROM mh GROUP BY key, seed // 2),
        |cand AS (
        |  SELECT DISTINCT a.key AS key_a, b.key AS key_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_val = b.band_val AND a.key < b.key),
        |cnt AS (SELECT key, count(*) AS cnt FROM sh GROUP BY key),
        |inter AS (
        |  SELECT c.key_a, c.key_b, count(*) AS n_inter
        |  FROM cand c
        |  JOIN sh a ON a.key = c.key_a
        |  JOIN sh b ON b.key = c.key_b AND b.shingle = a.shingle
        |  GROUP BY c.key_a, c.key_b),
        |dropk AS (
        |  SELECT DISTINCT i.key_b AS key FROM inter i
        |  JOIN cnt ca ON ca.key = i.key_a
        |  JOIN cnt cb ON cb.key = i.key_b
        |  WHERE CAST(n_inter AS DOUBLE) /
        |    CAST(ca.cnt + cb.cnt - n_inter AS DOUBLE) >= 0.5),
        |nd AS (
        |  SELECT e.* FROM exact e
        |  WHERE NOT EXISTS (SELECT 1 FROM dropk d WHERE d.key = e.key)),
        |evsh AS (
        |  SELECT DISTINCT array_to_string(w[i:i+2], ' ') AS sg
        |  FROM (
        |    SELECT string_split_regex(text, '\s+') AS w,
        |      unnest(generate_series(1,
        |        greatest(len(string_split_regex(text, '\s+')) - 2, 1))) AS i
        |    FROM documents WHERE doc_id % 97 = 0)),
        |flag AS (
        |  SELECT DISTINCT s.key FROM (
        |    SELECT key, array_to_string(w[i:i+2], ' ') AS sg
        |    FROM (
        |      SELECT key, string_split_regex(t, '\s+') AS w,
        |        unnest(generate_series(1,
        |          greatest(len(string_split_regex(t, '\s+')) - 2, 1))) AS i
        |      FROM nd)) s
        |  JOIN evsh e ON e.sg = s.sg),
        |clean AS (
        |  SELECT * FROM nd
        |  WHERE NOT EXISTS (SELECT 1 FROM flag f WHERE f.key = nd.key)),
        |counts AS (
        |  SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_in
        |  FROM clean GROUP BY source),
        |z AS (
        |  SELECT sum(CAST(sqrt(CAST(n_in AS DOUBLE)) AS DECIMAL(38,12))) AS z
        |  FROM counts),
        |rates AS (
        |  SELECT grp,
        |    least(1.0, 500.0 * sqrt(CAST(n_in AS DOUBLE)) /
        |      CAST(z.z AS DOUBLE) / CAST(n_in AS DOUBLE)) AS rate
        |  FROM counts CROSS JOIN z),
        |kept AS (
        |  SELECT c.* FROM clean c JOIN rates r ON r.grp = c.source
        |  WHERE (CAST(CAST(concat('0x',
        |      substr(md5(CAST(c.key AS VARCHAR)), 1, 8)) AS BIGINT)
        |      AS DOUBLE) + 0.5) / 4294967296.0 < r.rate),
        |pk AS (
        |  SELECT key, lang AS shard,
        |    CAST(len(string_split_regex(t, '\s+')) AS BIGINT) AS n_tokens
        |  FROM kept),
        |po AS (
        |  SELECT key, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY key
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS "offset"
        |  FROM pk)
        |SELECT key, shard, n_tokens, "offset",
        |  CAST(floor("offset" / 512) AS BIGINT) AS block,
        |  CASE WHEN n_tokens <= 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(floor(("offset" + n_tokens - 1) / 512) -
        |         floor("offset" / 512) + 1 AS BIGINT) END AS n_blocks
        |FROM po ORDER BY key""".stripMargin,

    "q_line_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id AS key, text AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substr(text, 1, length(text) - 10)
        |  FROM documents),
        |base AS (
        |  SELECT key,
        |    list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS ws
        |  FROM corpus),
        |lines AS (
        |  SELECT key, li,
        |    array_to_string(ws[li * 10 + 1 : li * 10 + 10], ' ') AS line
        |  FROM (SELECT key, ws,
        |      unnest(generate_series(0, greatest(
        |        CAST(ceil(CAST(len(ws) AS DOUBLE) / 10.0) AS INTEGER) - 1, 0)))
        |        AS li
        |    FROM base)),
        |kept AS (
        |  SELECT key, li, line,
        |    row_number() OVER (PARTITION BY line ORDER BY key, li) AS rn
        |  FROM lines)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_lines_kept,
        |  string_agg(line, ' ' ORDER BY li) AS clean_text
        |FROM kept WHERE rn = 1 GROUP BY key ORDER BY key""".stripMargin,

    "q_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(n_chars % 640 + 1 AS INTEGER) AS width,
        |    CAST(n_chars % 480 + 1 AS INTEGER) AS height
        |  FROM documents),
        |s AS (
        |  SELECT *, least(224.0/width, 224.0/height, 1.0) AS sc FROM m)
        |SELECT doc_id, width, height,
        |  CAST(floor(width * sc + 0.5) AS INTEGER) AS out_w,
        |  CAST(floor(height * sc + 0.5) AS INTEGER) AS out_h,
        |  sc < 1.0 AS resized
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    CAST(n_chars % 120 + 30 AS INTEGER) AS n_frames,
        |    unnest(generate_series(0,
        |      CAST(n_chars % 120 + 30 AS INTEGER) - 1, 7)) AS fi
        |  FROM documents)
        |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx, n_frames,
        |  md5(text || ':' || CAST(fi AS VARCHAR)) AS frame_digest
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q_typed_warehouse" ->
      """WITH raw AS (
        |  SELECT 'T' || CAST(user_id % 50 AS VARCHAR) AS ticker,
        |    ts, event_id,
        |    (event_id * 7 + user_id) % 9000000 AS cents,
        |    CAST(event_id % 10000 AS INTEGER) AS volume,
        |    CAST(event_id % 997 AS INTEGER) AS trade_count
        |  FROM events),
        |dedup AS (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY ticker, ts ORDER BY event_id) AS rn
        |  FROM raw)
        |SELECT sha256(ticker) AS company_id, ts AS "timestamp",
        |  CAST(CAST(CAST(cents      AS DOUBLE) / 100.0 AS DECIMAL(12,4)) AS DOUBLE) AS open_price,
        |  CAST(CAST(CAST(cents + 50 AS DOUBLE) / 100.0 AS DECIMAL(12,4)) AS DOUBLE) AS high_price,
        |  CAST(CAST(CAST(cents - 50 AS DOUBLE) / 100.0 AS DECIMAL(12,4)) AS DOUBLE) AS low_price,
        |  CAST(CAST(CAST(cents + 7  AS DOUBLE) / 100.0 AS DECIMAL(12,4)) AS DOUBLE) AS close_price,
        |  CAST(CAST(CAST(cents + 13 AS DOUBLE) / 100.0 AS DECIMAL(12,4)) AS DOUBLE) AS vwap,
        |  volume, trade_count
        |FROM dedup WHERE rn = 1
        |ORDER BY company_id, "timestamp"""".stripMargin,

    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id AS key, doc_id % 97 = 0 AS is_eval,
        |    array_to_string(w[i:i+2], ' ') AS g
        |  FROM (
        |    SELECT doc_id, string_split_regex(text, '\s+') AS w,
        |      unnest(generate_series(1,
        |        greatest(len(string_split_regex(text, '\s+')) - 2, 1))) AS i
        |    FROM documents))
        |SELECT t.key, CAST(count(*) AS BIGINT) AS n_hits
        |FROM sh t
        |JOIN (SELECT DISTINCT g FROM sh WHERE is_eval) e ON t.g = e.g
        |WHERE NOT t.is_eval
        |GROUP BY t.key ORDER BY t.key""".stripMargin,

    "q_contamination" ->
      """WITH train AS (SELECT doc_id AS key, text AS t FROM documents),
        |ev AS (
        |  SELECT doc_id AS key, text AS t, 'seen' AS bench
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_reverse(list_filter(
        |      string_split_regex(text, '\s+'), x -> x <> '')), ' '),
        |    'unseen'
        |  FROM documents WHERE doc_id % 10 = 5),
        |evsh AS (
        |  SELECT DISTINCT key, array_to_string(w[i:i+4], ' ') AS shingle
        |  FROM (
        |    SELECT key, string_split_regex(t, '\s+') AS w,
        |      unnest(generate_series(1,
        |        greatest(len(string_split_regex(t, '\s+')) - 4, 1))) AS i
        |    FROM ev)),
        |trsh AS (
        |  SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS shingle
        |  FROM (
        |    SELECT string_split_regex(t, '\s+') AS w,
        |      unnest(generate_series(1,
        |        greatest(len(string_split_regex(t, '\s+')) - 4, 1))) AS i
        |    FROM train)),
        |perdoc AS (
        |  SELECT e.key, count(*) AS n_sh,
        |    sum(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        |  FROM evsh e LEFT JOIN trsh t USING (shingle) GROUP BY e.key),
        |fr AS (
        |  SELECT key,
        |    round(CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE), 6) AS frac
        |  FROM perdoc)
        |SELECT bench, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(frac AS DECIMAL(38,12))) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE), 6) AS mean_overlap,
        |  CAST(sum(CASE WHEN frac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dirty
        |FROM fr JOIN ev USING (key) GROUP BY bench ORDER BY bench""".stripMargin,

    // rate = least(1, ((B · √n) / Σ√n) / n) with the SAME operator
    // order as the Spark expression; membership via the shared
    // md5-hex hash uniform
    "q_temperature_mix" ->
      """WITH counts AS (
        |  SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_in
        |  FROM documents GROUP BY source),
        |z AS (
        |  SELECT sum(CAST(sqrt(CAST(n_in AS DOUBLE)) AS DECIMAL(38,12))) AS z
        |  FROM counts),
        |rates AS (
        |  SELECT grp, n_in,
        |    least(1.0, 200.0 * sqrt(CAST(n_in AS DOUBLE)) /
        |      CAST(z.z AS DOUBLE) / CAST(n_in AS DOUBLE)) AS rate
        |  FROM counts CROSS JOIN z),
        |tagged AS (
        |  SELECT source AS grp,
        |    (CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |       AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
        |  FROM documents)
        |SELECT t.grp, r.n_in, round(r.rate, 6) AS rate,
        |  CAST(sum(CASE WHEN t.u < r.rate THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        |FROM tagged t JOIN rates r ON r.grp = t.grp
        |GROUP BY t.grp, r.n_in, r.rate
        |ORDER BY t.grp""".stripMargin,

    "q_mix_sample" ->
      """WITH s AS (
        |  SELECT source AS grp,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |      CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) < 5
        |             THEN '20'
        |           WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) < 10
        |             THEN '40'
        |           WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) < 15
        |             THEN '80'
        |           ELSE 'zz' END AS keep
        |  FROM documents)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_in,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
        |  round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE), 6) AS rate
        |FROM s GROUP BY grp ORDER BY grp""".stripMargin,

    "q_sentiment" ->
      """WITH lex(token, weight) AS (VALUES
        |  ('fast', 2), ('slow', -2), ('big', 1), ('small', -1),
        |  ('merge', 1), ('dup', -3)),
        |toks AS (
        |  SELECT doc_id AS key,
        |    unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents),
        |hits AS (
        |  SELECT key, CAST(sum(weight) AS BIGINT) AS sentiment,
        |    CAST(count(*) AS BIGINT) AS n_matched
        |  FROM toks JOIN lex USING (token)
        |  WHERE token <> '' GROUP BY key)
        |SELECT d.doc_id AS key,
        |  coalesce(h.sentiment, 0) AS sentiment,
        |  coalesce(h.n_matched, 0) AS n_matched
        |FROM documents d LEFT JOIN hits h ON h.key = d.doc_id
        |ORDER BY key""".stripMargin,

    "q_training_labels" ->
      """WITH daily AS (
        |  SELECT user_id AS entity,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    round(CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE), 9) AS v_mean
        |  FROM events GROUP BY 1, 2),
        |led AS (
        |  SELECT *, lead(v_mean, 1) OVER (
        |      PARTITION BY entity ORDER BY day) AS v_next
        |  FROM daily)
        |SELECT entity, day, n_events, v_mean, v_next,
        |  CASE WHEN v_next IS NULL THEN NULL
        |       WHEN v_next > v_mean THEN 1 ELSE 0 END AS label
        |FROM led ORDER BY entity, day""".stripMargin,

    "q_outliers" ->
      """WITH stats AS (
        |  SELECT event_type AS grp, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(38,12))) AS sx,
        |    sum(CAST(value * value AS DECIMAL(38,12))) AS sxx
        |  FROM events GROUP BY 1),
        |z AS (
        |  SELECT e.event_id AS id, e.event_type AS grp, e.value AS v,
        |    round((e.value - CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE)) /
        |      sqrt((CAST(s.sxx AS DOUBLE) -
        |            CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE) /
        |              CAST(s.n AS DOUBLE)) /
        |           (CAST(s.n AS DOUBLE) - 1.0)), 6) AS z
        |  FROM events e JOIN stats s ON s.grp = e.event_type
        |  WHERE s.n > 1 AND
        |    (CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) *
        |      CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE)) /
        |     (CAST(s.n AS DOUBLE) - 1.0) > 0)
        |SELECT id, grp, v, z FROM z WHERE abs(z) > 2.5
        |ORDER BY id""".stripMargin,

    "q_winsorize" ->
      """WITH bounds AS (
        |  SELECT event_type AS grp,
        |    round(quantile_cont(value, 0.05), 6) AS lo,
        |    round(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.event_id AS id, b.grp, e.value AS v, b.lo, b.hi,
        |  round(least(greatest(e.value, b.lo), b.hi), 6) AS v_clipped
        |FROM events e JOIN bounds b ON b.grp = e.event_type
        |ORDER BY id""".stripMargin,

    "q_feature_bins" ->
      """WITH b AS (
        |  SELECT event_type AS grp, value AS v,
        |    ntile(10) OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS bin
        |  FROM events)
        |SELECT grp, CAST(bin AS INTEGER) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(v) AS v_min, max(v) AS v_max
        |FROM b GROUP BY grp, bin ORDER BY grp, bin""".stripMargin,

    "q_validate" ->
      """WITH c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN NOT coalesce(value >= 0, false)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_value_nonneg,
        |    CAST(sum(CASE WHEN NOT coalesce(ts IS NOT NULL, false)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_ts_not_null,
        |    CAST(sum(CASE WHEN NOT coalesce(event_type IN
        |        ('click','view','purchase','signup','error'), false)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_type_known,
        |    CAST(sum(CASE WHEN NOT coalesce(user_id > 0, false)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_user_positive,
        |    CAST(sum(CASE WHEN NOT coalesce(props->>'k' IS NOT NULL, false)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_props_has_k
        |  FROM events)
        |SELECT rule, n_violations, n_rows FROM (
        |  SELECT 'value_nonneg' AS rule, v_value_nonneg AS n_violations, n_rows FROM c
        |  UNION ALL SELECT 'ts_not_null', v_ts_not_null, n_rows FROM c
        |  UNION ALL SELECT 'type_known', v_type_known, n_rows FROM c
        |  UNION ALL SELECT 'user_positive', v_user_positive, n_rows FROM c
        |  UNION ALL SELECT 'props_has_k', v_props_has_k, n_rows FROM c)
        |ORDER BY rule""".stripMargin,

    "q_seq_pack" ->
      """WITH d AS (
        |  SELECT doc_id AS key, lang AS shard,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT key, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY key
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS "offset"
        |  FROM d)
        |SELECT key, shard, n_tokens, "offset",
        |  CAST(floor("offset" / 512) AS BIGINT) AS block,
        |  CAST(floor(("offset" + n_tokens - 1) / 512) -
        |    floor("offset" / 512) + 1 AS BIGINT) AS n_blocks
        |FROM o ORDER BY key""".stripMargin,

    "q_domain_stats" ->
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars,
        |    'https://' || source || '.example.com/' || lang || '/' ||
        |      CAST(doc_id AS VARCHAR) AS url
        |  FROM documents)
        |SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS host,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  min(regexp_extract(url, 'https?://[^/]+(/.*)', 1)) AS first_path
        |FROM u GROUP BY 1 ORDER BY host""".stripMargin,

    "q_twap" ->
      """WITH s AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    value, event_id, ts,
        |    CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec
        |  FROM events),
        |d AS (
        |  SELECT user_id, day, value,
        |    lead(sec) OVER (PARTITION BY user_id, day ORDER BY ts, event_id)
        |      - sec AS dt
        |  FROM s)
        |SELECT user_id, day,
        |  CASE WHEN CAST(sum(CAST(dt AS DECIMAL(30,4))) AS DOUBLE) = 0 THEN NULL
        |    ELSE floor((CAST(sum(CAST(value * dt AS DECIMAL(30,4))) AS DOUBLE) /
        |      CAST(sum(CAST(dt AS DECIMAL(30,4))) AS DOUBLE)) * 1e6) / 1e6
        |  END AS twap,
        |  CAST(sum(dt) AS BIGINT) AS span_secs,
        |  count(*) AS n_obs
        |FROM d GROUP BY 1, 2
        |ORDER BY user_id, day""".stripMargin,

    "q_rolling_zscore" ->
      """WITH f AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(count(*) OVER w AS DOUBLE) AS cnt,
        |    CAST(sum(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(30,10))) OVER w AS DOUBLE) AS sxx
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |z AS (
        |  SELECT event_id, user_id, ts, value,
        |    CASE WHEN cnt < 20
        |        OR sqrt(greatest(sxx / cnt - (sx / cnt) * (sx / cnt), 0.0)) = 0
        |      THEN NULL
        |      ELSE (value - sx / cnt) /
        |        sqrt(greatest(sxx / cnt - (sx / cnt) * (sx / cnt), 0.0))
        |    END AS zraw
        |  FROM f)
        |SELECT event_id, user_id, ts, value,
        |  round(zraw, 9) AS zscore,
        |  CASE WHEN zraw IS NULL THEN FALSE ELSE abs(zraw) > 2.5 END AS is_anomaly
        |FROM z ORDER BY user_id, ts, event_id""".stripMargin,

    "q_gap_fill" ->
      """WITH hourly AS (
        |  SELECT user_id AS key, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
        |    round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) /
        |      CAST(count(value) AS DOUBLE), 9) AS v_obs
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT key, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY 1),
        |spine AS (
        |  SELECT key, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        |  FROM bounds)
        |SELECT s.key AS user_id, s.h AS h, hh.v_obs,
        |  hh.v_obs IS NULL AS is_gap,
        |  last_value(hh.v_obs IGNORE NULLS) OVER (
        |    PARTITION BY s.key ORDER BY s.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM spine s LEFT JOIN hourly hh ON hh.key = s.key AND hh.h = s.h
        |ORDER BY user_id, s.h""".stripMargin,

    "q_weighted_sample" ->
      """WITH s AS (
        |  SELECT source AS grp, doc_id AS key, n_chars,
        |    ln((CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
        |      / CAST(n_chars AS DOUBLE) AS sc
        |  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0),
        |r AS (
        |  SELECT grp, key, n_chars, sc,
        |    row_number() OVER (PARTITION BY grp ORDER BY sc DESC, key) AS rn
        |  FROM s)
        |SELECT grp AS source, key AS doc_id, n_chars,
        |  round(sc, 9) AS score, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 5
        |ORDER BY source, rn""".stripMargin,

    "q_attribution" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec
        |  FROM events),
        |w AS (
        |  SELECT user_id, ts, event_id, event_type, sec,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER win AS touch_eid,
        |    sec - last_value(CASE WHEN event_type = 'click' THEN sec END
        |      IGNORE NULLS) OVER win AS touch_secs
        |  FROM s
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS conv_event_id, user_id, ts AS conv_ts,
        |  CASE WHEN touch_secs <= 604800 THEN touch_eid END AS touch_event_id,
        |  CASE WHEN touch_secs <= 604800 THEN touch_secs END AS secs_since_touch
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY conv_event_id""".stripMargin,

    "q_spatial_join" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    CAST(concat('0x', substr(md5('x:' || c_custkey), 1, 4)) AS BIGINT)
        |      % 1000 AS x,
        |    CAST(concat('0x', substr(md5('y:' || c_custkey), 1, 4)) AS BIGINT)
        |      % 1000 AS y
        |  FROM customer)
        |SELECT q.id AS q_id, p.id AS p_id,
        |  (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y) AS dist2
        |FROM pts q JOIN pts p
        |  ON q.id % 97 = 0 AND q.id <> p.id
        |  AND (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y) <= 2500
        |ORDER BY q_id, p_id""".stripMargin,

    "q_variant" ->
      """SELECT event_id, CAST(props->>'k' AS INTEGER) AS k FROM events
        |WHERE CAST(props->>'k' AS INTEGER) % 7 = 0
        |ORDER BY event_id""".stripMargin,

    "q_chunk" ->
      """WITH d AS (
        |  SELECT doc_id AS key, text AS t, length(text) AS len
        |  FROM documents),
        |s AS (
        |  SELECT key, t,
        |    unnest(CASE WHEN len <= 0 THEN [CAST(0 AS BIGINT)]
        |      ELSE range(0, len, 150) END) AS start
        |  FROM d)
        |SELECT key, CAST(start // 150 AS BIGINT) AS chunk_id,
        |  CAST(start AS BIGINT) AS start,
        |  substr(t, CAST(start + 1 AS INTEGER), 200) AS chunk,
        |  CAST(length(substr(t, CAST(start + 1 AS INTEGER), 200)) AS BIGINT)
        |    AS n_chars
        |FROM s ORDER BY key, chunk_id""".stripMargin,

    "q_split" ->
      """SELECT doc_id AS key,
        |  CASE
        |    WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS BIGINT) < 52428 THEN 'train'
        |    WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |      AS BIGINT) < 58981 THEN 'val'
        |    ELSE 'test'
        |  END AS split
        |FROM documents ORDER BY key""".stripMargin,

    "q_embed_norm" ->
      """WITH v AS (
        |  SELECT vec_id AS id, len(embedding) AS dim,
        |    CAST(list_aggregate(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |        AS DECIMAL(30,12))), 'sum') AS DOUBLE) AS n2,
        |    CAST(embedding[1] AS DOUBLE) AS e0
        |  FROM embeddings)
        |SELECT id, CAST(dim AS INTEGER) AS dim, round(sqrt(n2), 6) AS norm,
        |  CASE WHEN n2 = 0 THEN NULL
        |       ELSE round(e0 / sqrt(n2), 6) END AS e0_n
        |FROM v ORDER BY id""".stripMargin,

    "q_k_anon" ->
      """SELECT user_id % 500 AS cohort, event_type, count(*) AS n,
        |  count(*) < 3 AS at_risk
        |FROM events GROUP BY 1, 2 ORDER BY cohort, event_type""".stripMargin,

    "q_ab_test" ->
      """WITH uv AS (
        |  SELECT user_id AS u,
        |    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS v,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
        |  FROM events GROUP BY 1, 2),
        |bv AS (
        |  SELECT v, count(*) AS n, CAST(sum(c) AS BIGINT) AS conv
        |  FROM uv GROUP BY v),
        |ab AS (
        |  SELECT
        |    (SELECT min(v) FROM bv) AS va, (SELECT max(v) FROM bv) AS vb,
        |    (SELECT CAST(count(*) AS BIGINT) FROM bv) AS n_variants,
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |      (SELECT u FROM uv GROUP BY u HAVING count(*) > 1))
        |      AS n_contaminated,
        |    a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b
        |  FROM bv a, bv b
        |  WHERE a.v = (SELECT min(v) FROM bv)
        |    AND b.v = (SELECT max(v) FROM bv)),
        |f AS (
        |  SELECT *,
        |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p1,
        |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p2,
        |    (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE)) /
        |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS p
        |  FROM ab)
        |SELECT va, vb, n_variants, n_contaminated,
        |  n_a, conv_a, round(p1, 6) AS rate_a,
        |  n_b, conv_b, round(p2, 6) AS rate_b,
        |  CASE WHEN p = 0 OR p = 1 THEN NULL
        |       ELSE round((p1 - p2) / sqrt(p * (1 - p) *
        |         (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE))), 6)
        |  END AS z
        |FROM f ORDER BY va""".stripMargin,

    "q_join_audit" ->
      """WITH lc AS (
        |  SELECT l_partkey AS key, count(*) AS m_l FROM lineitem GROUP BY 1),
        |rc AS (
        |  SELECT l_partkey AS key, count(*) AS m_r FROM lineitem
        |  WHERE l_quantity > 25 GROUP BY 1)
        |SELECT key, m_l, m_r, m_l * m_r AS fanout
        |FROM lc JOIN rc USING (key)
        |ORDER BY fanout DESC, key LIMIT 20""".stripMargin,

    "q_skew_profile" ->
      """WITH c AS (
        |  SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(max(n) AS BIGINT) AS max_n,
        |    round(CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |      AS mean_n,
        |    round(quantile_cont(n, 0.5), 6) AS p50_n,
        |    round(quantile_cont(n, 0.99), 6) AS p99_n
        |  FROM c)
        |SELECT *, round(CAST(max_n AS DOUBLE) / mean_n, 6) AS skew_ratio
        |FROM a""".stripMargin,

    "q_provenance" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'mirror' FROM documents
        |  WHERE doc_id % 3 = 0)
        |SELECT md5(text) AS digest, count(*) AS n_copies,
        |  min(doc_id) AS keeper, count(DISTINCT source) AS n_sources,
        |  string_agg(DISTINCT source, ',' ORDER BY source) AS sources
        |FROM corpus GROUP BY 1 ORDER BY digest""".stripMargin,

    "q_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id AS doc,
        |    unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |td AS (SELECT DISTINCT term, doc FROM toks WHERE term <> ''),
        |r AS (
        |  SELECT term, doc,
        |    row_number() OVER (PARTITION BY term ORDER BY doc) AS rn,
        |    count(*) OVER (PARTITION BY term) AS df
        |  FROM td)
        |SELECT term, CAST(df AS BIGINT) AS df,
        |  string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc) AS postings
        |FROM r WHERE rn <= 40 GROUP BY term, df
        |ORDER BY term""".stripMargin,

    // id-ordered a<b<c enumeration — orientation-free ground truth; the
    // Spark side's degree-ordered orientation must agree exactly.
    "q_triangles" ->
      """WITH nn AS (SELECT count(*) AS n FROM customer),
        |b AS (SELECT c_custkey - 1 AS a FROM customer),
        |raw AS (
        |  SELECT a AS x, (a + 1) % nn.n AS y FROM b, nn
        |  UNION ALL SELECT a, (a + 2) % nn.n FROM b, nn
        |  UNION ALL SELECT a, (a + 5) % nn.n FROM b, nn WHERE a % 7 = 0),
        |e AS (
        |  SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
        |  FROM raw WHERE x <> y)
        |SELECT node, count(*) AS n_tri FROM (
        |  SELECT unnest([t.a, t.b, t.c]) AS node FROM (
        |    SELECT x.u AS a, x.v AS b, y.v AS c
        |    FROM e x JOIN e y ON x.u = y.u AND x.v < y.v
        |    JOIN e z ON z.u = x.v AND z.v = y.v) t)
        |GROUP BY node ORDER BY node""".stripMargin,

    "q_reachability" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT concat('p:', l_partkey) AS src,
        |    concat('s:', l_suppkey) AS dst
        |  FROM lineitem),
        |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |seeds AS (
        |  SELECT DISTINCT concat('s:', l_suppkey) AS node FROM lineitem
        |  WHERE l_suppkey % 10 = 0),
        |r AS (
        |  SELECT node, 0 AS d FROM seeds
        |  UNION
        |  SELECT e.dst AS node, r.d + 1 AS d
        |  FROM r JOIN e ON e.src = r.node WHERE r.d < 3)
        |SELECT node, CAST(min(d) AS BIGINT) AS dist FROM r
        |GROUP BY node ORDER BY node""".stripMargin,

    "q_pmi" ->
      """WITH ws AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS w
        |  FROM documents),
        |u AS (
        |  SELECT w1, count(*) AS c1 FROM (SELECT unnest(w) AS w1 FROM ws)
        |  WHERE w1 <> '' GROUP BY w1),
        |nt AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM u),
        |bg AS (
        |  SELECT w[i] AS w1, w[i + 1] AS w2
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        |    FROM ws WHERE len(w) >= 2)
        |  WHERE w[i] <> '' AND w[i + 1] <> ''),
        |cc AS (
        |  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2
        |  HAVING count(*) >= 10),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bg FROM bg)
        |SELECT cc.w1, cc.w2, cc.c2,
        |  round(ln(CAST(cc.c2 AS DOUBLE) / CAST(nb.n_bg AS DOUBLE))
        |    - ln(CAST(a.c1 AS DOUBLE) / CAST(nt.n_tok AS DOUBLE))
        |    - ln(CAST(b.c1 AS DOUBLE) / CAST(nt.n_tok AS DOUBLE)), 9) AS pmi
        |FROM cc JOIN u a ON cc.w1 = a.w1 JOIN u b ON cc.w2 = b.w1, nb, nt
        |ORDER BY cc.w1, cc.w2""".stripMargin,

    "q_top_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id),
        |c AS (SELECT path, count(*) AS n_users FROM p GROUP BY path)
        |SELECT path, n_users FROM c
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin,

    "q_ewma" ->
      """WITH b AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    value,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, date_trunc('day', ts)) AS n
        |  FROM events),
        |t AS (
        |  SELECT user_id, day,
        |    pow(0.7, CAST(n - rn AS DOUBLE)) AS w, value
        |  FROM b)
        |SELECT user_id, day, count(*) AS n,
        |  round(CAST(sum(CAST(w * value AS DECIMAL(38,12))) AS DOUBLE) /
        |    CAST(sum(CAST(w AS DECIMAL(38,12))) AS DOUBLE), 6) AS ewma
        |FROM t GROUP BY user_id, day ORDER BY user_id, day""".stripMargin,

    "q_market_basket" ->
      """WITH bi AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
        |tot AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM bi),
        |marg AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM bi GROUP BY i),
        |pairs AS (
        |  SELECT a.i AS item_a, c.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM bi a JOIN bi c ON a.b = c.b AND a.i <> c.i
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, n_ab, ma.n_i AS n_a, mb.n_i AS n_b,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE), 9) AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(ma.n_i AS DOUBLE), 9) AS confidence,
        |  round((CAST(n_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE)) /
        |    (CAST(ma.n_i AS DOUBLE) * CAST(mb.n_i AS DOUBLE)), 9) AS lift
        |FROM pairs
        |JOIN marg ma ON ma.i = item_a
        |JOIN marg mb ON mb.i = item_b
        |CROSS JOIN tot
        |ORDER BY item_a, item_b""".stripMargin,

    "q_transitions" ->
      """WITH s AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_state
        |  FROM events),
        |m AS (
        |  SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |  round(CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE), 9) AS prob
        |FROM m ORDER BY from_state, to_state""".stripMargin,

    "q_debounce" ->
      """WITH s AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS sec
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN sec - lag(sec) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id) <= 300
        |    THEN 0 ELSE 1 END AS nb
        |  FROM s),
        |b AS (
        |  SELECT *, CAST(sum(nb) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst
        |  FROM g),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id, event_type, burst
        |      ORDER BY ts, event_id) AS rn,
        |    CAST(count(*) OVER (
        |      PARTITION BY user_id, event_type, burst) AS BIGINT) AS n_in_burst
        |  FROM b)
        |SELECT event_id, user_id, event_type, ts, burst, n_in_burst
        |FROM r WHERE rn = 1
        |ORDER BY user_id, event_type, burst""".stripMargin,

    "q_unpivot" ->
      """SELECT p_partkey, p_brand, 'p_size' AS metric,
        |  CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, p_brand, 'p_retailprice', p_retailprice FROM part
        |ORDER BY p_partkey, metric""".stripMargin,

    "q_bloom_prune" ->
      """SELECT l_partkey, count(*) AS n_lines FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 40)
        |GROUP BY 1 ORDER BY l_partkey""".stripMargin,

    "q_zorder" ->
      s"""WITH s AS (
         |  SELECT p_partkey % 1024 AS x, CAST(p_size AS BIGINT) AS y FROM part),
         |z AS (SELECT x, y, $zInterleave10 AS z FROM s)
         |SELECT z >> 12 AS bucket, count(*) AS n,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_sorted_neighborhood" ->
      """WITH s AS (
        |  SELECT doc_id, lang, n_chars, substr(text, 1, 60) AS p FROM documents),
        |w AS (
        |  SELECT doc_id AS a_id, lang, p AS a_p,
        |    lead(doc_id, 1) OVER win AS b1, lead(p, 1) OVER win AS p1,
        |    lead(doc_id, 2) OVER win AS b2, lead(p, 2) OVER win AS p2,
        |    lead(doc_id, 3) OVER win AS b3, lead(p, 3) OVER win AS p3
        |  FROM s
        |  WINDOW win AS (PARTITION BY lang ORDER BY n_chars, doc_id)),
        |pairs AS (
        |  SELECT a_id, b1 AS b_id, lang, 1 AS gap, a_p, p1 AS b_p
        |    FROM w WHERE b1 IS NOT NULL
        |  UNION ALL
        |  SELECT a_id, b2, lang, 2, a_p, p2 FROM w WHERE b2 IS NOT NULL
        |  UNION ALL
        |  SELECT a_id, b3, lang, 3, a_p, p3 FROM w WHERE b3 IS NOT NULL)
        |SELECT a_id AS doc_a, b_id AS doc_b, lang, gap,
        |  CAST(levenshtein(a_p, b_p) AS INTEGER) AS dist
        |FROM pairs
        |WHERE levenshtein(a_p, b_p) <= 25
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
