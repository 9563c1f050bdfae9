package graft.operators

/** DuckDB oracle SQL for the training-data pipeline operators; the gate
  * that checks each one against the engine is tools/compare.py. */
object PipelineOracle {
  /** Shared CTE chain: tokenized 60-bit SimHash signatures, 5×12-bit bands,
    * and the banded candidate pairs — the common prefix of dd05 (pair
    * emission) and dd06 (connected components over those pairs). */
  private val simhashBandCtes: String =
    "tok AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents), hh AS (SELECT doc_id, w, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok), bits AS (SELECT doc_id, j.j AS j, CASE WHEN SUM(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN 1 ELSE 0 END AS bit FROM hh, unnest(range(0, 60)) j(j) GROUP BY doc_id, j.j), sig AS (SELECT doc_id, CAST(SUM(bit * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS simhash FROM bits GROUP BY doc_id), bands AS (SELECT doc_id, simhash, b.b AS band, (simhash >> (b.b * 12)) & 4095 AS bk FROM sig, unnest(range(0, 5)) b(b)), cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb, x.simhash AS ha, y.simhash AS hb FROM bands x JOIN bands y ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id)"

  /** Shared CTE chain for the k-means assignment (ss07/c03): quantized
    * elements, per-label integer sum-centroids, norms, all vector×centroid
    * cosines, and the argmax assignment with (cos DESC, label) tie-break —
    * mirrors Similarity.assignedToCentroids exactly. */
  // Kept in sync with Similarity.assignStep. ONE sanctioned divergence: the
  // Spark side guards zero-norm vectors/centroids (cosine := −1 instead of
  // NaN); this CTE divides unconditionally. Fine for the oracle — the
  // fixture has no zero-norm vectors (PipelinesSpec asserts the integer
  // quantization preconditions per SF) — but if a future fixture admits
  // degenerate vectors, mirror the guard here as a CASE WHEN.
  private val kmeansAssignCtes: String =
    "el AS (SELECT vec_id, label, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), cent AS (SELECT label, i, CAST(SUM(q) AS BIGINT) AS cq FROM el GROUP BY label, i), cn AS (SELECT label, CAST(SUM(cq * cq) AS BIGINT) AS cn2 FROM cent GROUP BY label), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el GROUP BY vec_id), adots AS (SELECT e.vec_id, c.label AS clabel, CAST(SUM(e.q * c.cq) AS BIGINT) AS dot FROM el e JOIN cent c ON c.i = e.i GROUP BY e.vec_id, c.label), ranked AS (SELECT d.vec_id, d.clabel, CAST(d.dot AS DOUBLE) / sqrt(CAST(cn.cn2 AS DOUBLE) * CAST(n.n2 AS DOUBLE)) AS ccos, row_number() OVER (PARTITION BY d.vec_id ORDER BY CAST(d.dot AS DOUBLE) / sqrt(CAST(cn.cn2 AS DOUBLE) * CAST(n.n2 AS DOUBLE)) DESC, d.clabel) AS rk FROM adots d JOIN cn ON cn.label = d.clabel JOIN nrm n ON n.vec_id = d.vec_id), asg AS (SELECT vec_id, clabel AS assigned, ccos FROM ranked WHERE rk = 1)"

  /** Shared CTE chain for the product-quantization family (ss09/ss10):
    * subspace elements (sub = i // 16, within-sub index i % 16), per
    * (label, sub) integer sum-codebooks with norms, per (vec, sub)
    * subvector norms, all dots, and the per-(vec, sub) argmax-cosine code
    * with (cos DESC, label) tie-break — mirrors Similarity.pqParts/pqEncode
    * exactly (same zero-norm caveat as the k-means CTEs: the Spark side
    * guards degenerate subvectors, the fixture has none — asserted in
    * PipelinesSpec). */
  private val pqEncodeCtes: String =
    "els AS (SELECT vec_id, label, CAST(i.i // 16 AS INT) AS sub, CAST(i.i % 16 AS INT) AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), pcent AS (SELECT label, sub, i, CAST(SUM(q) AS BIGINT) AS cq FROM els GROUP BY label, sub, i), pcn AS (SELECT label, sub, CAST(SUM(cq * cq) AS BIGINT) AS cn2 FROM pcent GROUP BY label, sub), pnrm AS (SELECT vec_id, sub, CAST(SUM(q * q) AS BIGINT) AS n2 FROM els GROUP BY vec_id, sub), pdots AS (SELECT e.vec_id, e.sub, c.label AS clabel, CAST(SUM(e.q * c.cq) AS BIGINT) AS dot FROM els e JOIN pcent c ON c.sub = e.sub AND c.i = e.i GROUP BY e.vec_id, e.sub, c.label), pranked AS (SELECT d.vec_id, d.sub, d.clabel, CAST(d.dot AS DOUBLE) / sqrt(CAST(cn.cn2 AS DOUBLE) * CAST(n.n2 AS DOUBLE)) AS ccos, row_number() OVER (PARTITION BY d.vec_id, d.sub ORDER BY CAST(d.dot AS DOUBLE) / sqrt(CAST(cn.cn2 AS DOUBLE) * CAST(n.n2 AS DOUBLE)) DESC, d.clabel) AS rk FROM pdots d JOIN pcn cn ON cn.label = d.clabel AND cn.sub = d.sub JOIN pnrm n ON n.vec_id = d.vec_id AND n.sub = d.sub), penc AS (SELECT vec_id, sub, clabel, ccos FROM pranked WHERE rk = 1)"

  /** BPE training replay for t24/t25, as PLAIN chained SQL: the 30-round
    * argmax loop of [[Bpe.train]] unrolled into per-round CTEs (the merge
    * budget is a compile-time constant, so unrolling is exact — no
    * recursive-CTE aggregation restrictions apply). The one non-obvious
    * encoding: a word's symbol list is a chr(31)-wrapped string
    * (`SEP+sym+SEP` per symbol, concatenated), because greedy
    * left-to-right non-overlapping pair merging — BPE's merge semantics,
    * [[Bpe.applyMerge]] — is EXACTLY SQL `replace()` semantics on that
    * string: `replace(s, SEP+l+SEP + SEP+r+SEP, SEP+l+r+SEP)`
    * merges every non-overlapping (l,r) symbol pair left to right, and
    * the double separator between symbols stops adjacent matches from
    * sharing a boundary character ("aaaa" under (a,a) → [aa][aa], not
    * [aa][a][a]). Each round: pair counts (lateral unnest over adjacent
    * symbol slots) → argmax with the trainer's total (cnt DESC, l, r)
    * tie-break and minFreq≥2 early-stop (an empty b-CTE leaves the
    * vocabulary untouched, so all later rounds stay empty too) → one
    * replace() over the vocab. MATERIALIZED pins keep DuckDB from
    * re-inlining the whole prefix chain per round. Validated
    * token-for-token against the single-node reference trainer (the same
    * one BpeSpec pins the Spark side to). */
  private val BpeSep = "chr(31)"
  private val BpeSep2 = s"$BpeSep||$BpeSep"
  private val BpeRounds = 30

  /** `sym0(col)` — the initial wrapped symbol string of a word column:
    * chars + the `</w>` marker, each wrapped in separators. */
  private def bpeSym0(col: String): String =
    s"$BpeSep || array_to_string(list_append(regexp_extract_all($col, '.'), '</w>'), $BpeSep2) || $BpeSep"

  /** One merge application: CASE-guarded so an exhausted (empty) b-CTE
    * round is the identity. */
  private def bpeApply(v: String): String =
    s"CASE WHEN b.l IS NULL THEN $v ELSE replace($v, $BpeSep||b.l||$BpeSep2||b.r||$BpeSep, $BpeSep||b.l||b.r||$BpeSep) END"

  /** The shared training chain: wf (word freq) → v0 → (p_i, b_i, v_i+1)
    * per round. b_i holds round i's winning merge (0 or 1 rows). */
  private def bpeTrainCtes: Seq[String] = {
    val head = Seq(
      "wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM " +
        "(SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word FROM documents) " +
        "WHERE regexp_matches(word, '^[a-z]+$') GROUP BY word)",
      s"v0 AS (SELECT freq, ${bpeSym0("word")} AS s FROM wf)")
    head ++ (0 until BpeRounds).flatMap { i => Seq(
      s"p$i AS (SELECT a[i] AS l, a[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt FROM " +
        s"(SELECT freq, string_split(trim(s, $BpeSep), $BpeSep2) AS a FROM v$i), " +
        "unnest(range(1, len(a))) t(i) GROUP BY 1, 2)",
      s"b$i AS MATERIALIZED (SELECT $i AS mrank, l, r, cnt FROM p$i WHERE cnt >= 2 ORDER BY cnt DESC, l, r LIMIT 1)",
      s"v${i + 1} AS MATERIALIZED (SELECT freq, ${bpeApply("v.s")} AS s FROM v$i v LEFT JOIN b$i b ON TRUE)")
    }
  }

  private val bpeTrainSql: String = {
    val union = (0 until BpeRounds).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")
    "WITH " + bpeTrainCtes.mkString(", ") +
      " SELECT CAST(mrank AS INT) AS \"rank\", l AS \"left\", r AS \"right\", " +
      s"""l || r AS merged, cnt AS pair_freq FROM ($union) ORDER BY "rank""""
  }

  /** t25: replay the SAME learned merges over every whitespace token of
    * every document (segmentation has no [a-z] filter — punctuation-bearing
    * tokens segment too, mirroring Bpe.segmentWith), then count symbols
    * per token as separator-count/2 and aggregate per doc. */
  private val bpeSegmentSql: String = {
    val seg = Seq(
      "dt AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents)",
      s"g0 AS (SELECT w, ${bpeSym0("w")} AS s FROM (SELECT DISTINCT unnest(ws) AS w FROM dt))") ++
      (0 until BpeRounds).map { i =>
        s"g${i + 1} AS MATERIALIZED (SELECT w, ${bpeApply("g.s")} AS s FROM g$i g LEFT JOIN b$i b ON TRUE)"
      } ++ Seq(
      s"nsym AS (SELECT w, CAST((length(s) - length(replace(s, $BpeSep, ''))) // 2 AS BIGINT) AS n FROM g$BpeRounds)",
      "agg AS (SELECT d.doc_id, CAST(MAX(len(d.ws)) AS BIGINT) AS n_ws_tokens, " +
        "CAST(SUM(n.n) AS BIGINT) AS n_bpe_tokens " +
        "FROM (SELECT doc_id, ws, unnest(ws) AS w FROM dt) d JOIN nsym n ON n.w = d.w GROUP BY d.doc_id)")
    "WITH " + (bpeTrainCtes ++ seg).mkString(", ") +
      " SELECT doc_id, n_ws_tokens, n_bpe_tokens, " +
      "ROUND(CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens, 3) AS bpe_per_word FROM agg ORDER BY doc_id"
  }

  /** Shared CTE chain for the BM25 scorer (t17 and the ss19 lexical leg):
    * tokenized docs, per-doc query-term tfs + length, 1-row corpus stats. */
  private val bm25Ctes: String =
    "w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), tfs AS (SELECT doc_id, len(ws) AS dl, len([x FOR x IN ws IF x = 'hash']) AS tf0, len([x FOR x IN ws IF x = 'join']) AS tf1, len([x FOR x IN ws IF x = 'vector']) AS tf2 FROM w), st AS (SELECT COUNT(*) AS n, SUM(dl) AS sl, SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0, SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1, SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM tfs)"

  /** The BM25 scored top-`limit` select over [[bm25Ctes]] — every
    * floating-point step written identically to the Spark side (t17's
    * parity argument). */
  private def bm25Select(limit: Int): String =
    s"SELECT doc_id, ROUND(ln(CAST(1.0 AS DOUBLE) + (CAST(n AS DOUBLE) - df0 + CAST(0.5 AS DOUBLE)) / (df0 + CAST(0.5 AS DOUBLE))) * (CAST(tf0 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (tf0 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (CAST(sl AS DOUBLE) / n))) + ln(CAST(1.0 AS DOUBLE) + (CAST(n AS DOUBLE) - df1 + CAST(0.5 AS DOUBLE)) / (df1 + CAST(0.5 AS DOUBLE))) * (CAST(tf1 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (tf1 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (CAST(sl AS DOUBLE) / n))) + ln(CAST(1.0 AS DOUBLE) + (CAST(n AS DOUBLE) - df2 + CAST(0.5 AS DOUBLE)) / (df2 + CAST(0.5 AS DOUBLE))) * (CAST(tf2 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (tf2 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (CAST(sl AS DOUBLE) / n))), 4) AS bm25 FROM tfs, st ORDER BY bm25 DESC, doc_id LIMIT $limit"

  /** Shared CTE chain for the exact-cosine top-k of vec_id 0 (ss01, the
    * ss19 dense leg, and the ss20 candidate pool): quantized elements,
    * norms, and the query dots. */
  private val cosTopCtes: String =
    "el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el GROUP BY vec_id), dots AS (SELECT b.vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id = 0 AND b.vec_id <> 0 GROUP BY b.vec_id)"

  /** The cosine-ranked top-`limit` select over [[cosTopCtes]]. */
  private def cosTopSelect(limit: Int): String =
    s"SELECT d.vec_id, ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) AS cos FROM dots d JOIN nrm na ON na.vec_id = 0 JOIN nrm nb ON nb.vec_id = d.vec_id ORDER BY cos DESC, d.vec_id LIMIT $limit"

  /** ss20's greedy MMR selection, unrolled round by round (the BPE-unroll
    * precedent — k is a compile-time constant, so unrolling is exact).
    * Round r scores every unselected candidate
    * `0.7·rel − 0.3·max_sim(to mcum_{r−1})` and takes the
    * (score DESC, vec_id) argmax. Raw (unrounded) doubles feed every
    * comparison — identical IEEE expressions to the Spark/driver side —
    * and the literals 0.7/0.3 are INDEPENDENT (never 1−λ, a different
    * double). */
  private def mmrRoundCtes(r: Int): String = {
    val p = r - 1
    // every round CTE MATERIALIZED (the BPE-unroll lesson): without the
    // pins DuckDB re-inlines each round's whole prefix chain per correlated
    // subquery — exponential re-expansion, not a 10-step loop
    s"mscored$r AS MATERIALIZED (SELECT c.vec_id, c.rel, CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * (SELECT MAX(s.sim) FROM msims s JOIN mcum$p m ON s.idb = m.vec_id WHERE s.ida = c.vec_id) AS score FROM mcand c WHERE c.vec_id NOT IN (SELECT vec_id FROM mcum$p)), " +
      s"msel$r AS MATERIALIZED (SELECT vec_id, rel, score FROM mscored$r ORDER BY score DESC, vec_id LIMIT 1), " +
      s"mcum$r AS MATERIALIZED (SELECT vec_id FROM mcum$p UNION ALL SELECT vec_id FROM msel$r)"
  }

  private def mmrSql(nCand: Int, k: Int): String = {
    // the shared top-k CTEs get the same pins (same rationale; harmless —
    // all of these frames are tiny)
    val pinnedCos = Seq("el", "nrm", "dots").foldLeft(cosTopCtes)((s, n) =>
      s.replaceFirst(s"$n AS \\(", s"$n AS MATERIALIZED ("))
    val head = s"WITH $pinnedCos, " +
      s"mcand AS MATERIALIZED (SELECT d.vec_id, CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS rel FROM dots d JOIN nrm na ON na.vec_id = 0 JOIN nrm nb ON nb.vec_id = d.vec_id ORDER BY ROUND(CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) DESC, d.vec_id LIMIT $nCand), " +
      "mpd AS MATERIALIZED (SELECT a.vec_id AS ida, b.vec_id AS idb, CAST(SUM(ea.q * eb.q) AS BIGINT) AS dot FROM mcand a JOIN mcand b ON a.vec_id < b.vec_id JOIN el ea ON ea.vec_id = a.vec_id JOIN el eb ON eb.vec_id = b.vec_id AND eb.i = ea.i GROUP BY a.vec_id, b.vec_id), " +
      "msims0 AS MATERIALIZED (SELECT ida, idb, CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS sim FROM mpd JOIN nrm na ON na.vec_id = ida JOIN nrm nb ON nb.vec_id = idb), " +
      "msims AS MATERIALIZED (SELECT ida, idb, sim FROM msims0 UNION ALL SELECT idb, ida, sim FROM msims0), " +
      "msel1 AS MATERIALIZED (SELECT vec_id, rel, CAST(0.7 AS DOUBLE) * rel AS score FROM mcand ORDER BY score DESC, vec_id LIMIT 1), " +
      "mcum1 AS MATERIALIZED (SELECT vec_id FROM msel1)"
    val rounds = (2 to k).map(mmrRoundCtes).mkString(", ")
    val union = (1 to k).map(r =>
      s"SELECT $r AS r, vec_id, rel, score FROM msel$r").mkString(" UNION ALL ")
    s"$head, $rounds SELECT r AS " + "\"rank\"" +
      s", vec_id, ROUND(rel, 4) AS rel, ROUND(score, 4) AS mmr FROM ($union) ORDER BY r"
  }

  val sql: Map[String, String] = Map(
    "t24_bpe_train" -> bpeTrainSql,
    "t25_bpe_segment" -> bpeSegmentSql,
    "t29_sequence_pack" ->
      "WITH n AS (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents), o AS (SELECT doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off FROM n) SELECT doc_id, n_tokens, CAST(start_off AS BIGINT) AS start_off, CAST(start_off // 128 AS BIGINT) AS first_seq, CAST((start_off + n_tokens - 1) // 128 AS BIGINT) AS last_seq, CAST((start_off + n_tokens - 1) // 128 - (start_off // 128) + 1 AS BIGINT) AS n_seqs FROM o ORDER BY doc_id",
    "sp15_temperature_mix" ->
      "WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang), mx AS (SELECT MAX(n_docs) AS mx FROM n), r AS (SELECT lang, n_docs, CAST(FLOOR(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)) / sqrt(CAST(mx AS DOUBLE))) AS BIGINT) AS rate_ppm FROM n, mx), k AS (SELECT d.lang, COUNT(*) AS n_kept FROM documents d JOIN r ON r.lang = d.lang WHERE CAST(('0x' || substr(md5('alpha:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < r.rate_ppm GROUP BY d.lang) SELECT r.lang, r.n_docs, r.rate_ppm, CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept FROM r LEFT JOIN k ON k.lang = r.lang ORDER BY r.lang",
    // sp15b replays the driver-side exact-BigInt ⌊10⁶·(n/nmax)^{1/4}⌋ as
    // isqrt(isqrt(10²⁴·n ÷ nmax)) in HUGEINT: the double-sqrt seed is
    // corrected by ±2 integer candidates (the seed is provably within 1
    // of the true root at these magnitudes), so both engines produce the
    // identical integer ppm table for ANY data — no pow(), no epsilon.
    "sp15b_temperature_mix_alpha" ->
      ("WITH n AS (SELECT lang, CAST(COUNT(*) AS HUGEINT) AS n_docs FROM documents GROUP BY lang), " +
        "mx AS (SELECT MAX(n_docs) AS mx FROM n), " +
        "x AS (SELECT lang, n_docs, (CAST('1000000000000000000000000' AS HUGEINT) * n_docs) // mx.mx AS x1 FROM n, mx), " +
        "c1 AS (SELECT lang, n_docs, x1, CAST(floor(sqrt(CAST(x1 AS DOUBLE))) AS HUGEINT) AS c FROM x), " +
        "s1 AS (SELECT lang, n_docs, CASE WHEN (c+2)*(c+2) <= x1 THEN c+2 WHEN (c+1)*(c+1) <= x1 THEN c+1 WHEN c*c <= x1 THEN c WHEN (c-1)*(c-1) <= x1 THEN c-1 ELSE c-2 END AS s FROM c1), " +
        "c2 AS (SELECT lang, n_docs, s, CAST(floor(sqrt(CAST(s AS DOUBLE))) AS HUGEINT) AS c FROM s1), " +
        "r AS (SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, CAST(CASE WHEN (c+2)*(c+2) <= s THEN c+2 WHEN (c+1)*(c+1) <= s THEN c+1 WHEN c*c <= s THEN c WHEN (c-1)*(c-1) <= s THEN c-1 ELSE c-2 END AS BIGINT) AS rate_ppm FROM c2), " +
        "k AS (SELECT d.lang, COUNT(*) AS n_kept FROM documents d JOIN r ON r.lang = d.lang WHERE CAST(('0x' || substr(md5('alpha:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < r.rate_ppm GROUP BY d.lang) " +
        "SELECT r.lang, r.n_docs, r.rate_ppm, CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept " +
        "FROM r LEFT JOIN k ON k.lang = r.lang ORDER BY r.lang"),
    // sp16: power-of-two capacity buckets, integer-exact; the CASE chain
    // is generated from the same 2⁴..2²¹ cap ladder the Spark side folds.
    "sp16_length_buckets" ->
      ("WITH tok AS (SELECT len(string_split_regex(trim(text), '\\s+')) AS n FROM documents), " +
        "b AS (SELECT n, CAST(CASE " +
        (4 to 20).map(i => s"WHEN n <= ${1L << i} THEN ${1L << i}").mkString(" ") +
        s" ELSE ${1L << 21} END AS BIGINT) AS bucket_cap FROM tok), " +
        "g AS (SELECT bucket_cap, COUNT(*) AS n_docs, CAST(MAX(n) AS BIGINT) AS max_len, CAST(SUM(n) AS BIGINT) AS sum_tokens FROM b GROUP BY bucket_cap), " +
        "p AS (SELECT bucket_cap, n_docs, max_len, sum_tokens, n_docs * bucket_cap - sum_tokens AS pad_tokens FROM g) " +
        "SELECT bucket_cap, n_docs, max_len, sum_tokens, pad_tokens, " +
        ExactPresent.roundDivSql("pad_tokens", "n_docs * bucket_cap", 3) +
        " AS pad_ratio FROM p ORDER BY bucket_cap"),
    "ss09_pq_encode" ->
      s"WITH $pqEncodeCtes SELECT vec_id, sub, CAST(clabel AS BIGINT) AS code, ROUND(ccos, 4) AS cos FROM penc ORDER BY vec_id, sub",
    "ss10_pq_adc" ->
      s"WITH $pqEncodeCtes, lut AS (SELECT c.sub, c.label AS code, CAST(SUM(c.cq * e.q) AS BIGINT) AS qdot FROM pcent c JOIN els e ON e.vec_id = 0 AND e.sub = c.sub AND e.i = c.i GROUP BY c.sub, c.label), qn AS (SELECT CAST(SUM(q * q) AS BIGINT) AS qn2 FROM els WHERE vec_id = 0), ap AS (SELECT enc.vec_id, CAST(SUM(l.qdot) AS BIGINT) AS adot, CAST(SUM(cn.cn2) AS BIGINT) AS an2 FROM penc enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.clabel JOIN pcn cn ON cn.sub = enc.sub AND cn.label = enc.clabel WHERE enc.vec_id <> 0 GROUP BY enc.vec_id) SELECT vec_id, ROUND(CAST(adot AS DOUBLE) / sqrt(CAST(qn.qn2 AS DOUBLE) * CAST(an2 AS DOUBLE)), 4) AS acos FROM ap, qn ORDER BY acos DESC, vec_id LIMIT 10",
    "ss11_pq_rerank" ->
      s"WITH $pqEncodeCtes, lut AS (SELECT c.sub, c.label AS code, CAST(SUM(c.cq * e.q) AS BIGINT) AS qdot FROM pcent c JOIN els e ON e.vec_id = 0 AND e.sub = c.sub AND e.i = c.i GROUP BY c.sub, c.label), qn AS (SELECT CAST(SUM(q * q) AS BIGINT) AS qn2 FROM els WHERE vec_id = 0), ap AS (SELECT enc.vec_id, CAST(SUM(l.qdot) AS BIGINT) AS adot, CAST(SUM(cn.cn2) AS BIGINT) AS an2 FROM penc enc JOIN lut l ON l.sub = enc.sub AND l.code = enc.clabel JOIN pcn cn ON cn.sub = enc.sub AND cn.label = enc.clabel WHERE enc.vec_id <> 0 GROUP BY enc.vec_id), short AS (SELECT vec_id FROM ap, qn ORDER BY ROUND(CAST(adot AS DOUBLE) / sqrt(CAST(qn.qn2 AS DOUBLE) * CAST(an2 AS DOUBLE)), 4) DESC, vec_id LIMIT 100), exd AS (SELECT e.vec_id, CAST(SUM(e.q * q0.q) AS BIGINT) AS dot, CAST(SUM(e.q * e.q) AS BIGINT) AS n2 FROM els e JOIN els q0 ON q0.vec_id = 0 AND q0.sub = e.sub AND q0.i = e.i WHERE e.vec_id IN (SELECT vec_id FROM short) GROUP BY e.vec_id) SELECT vec_id, ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(qn.qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)), 4) AS cos FROM exd, qn ORDER BY cos DESC, vec_id LIMIT 10",
    "ss12_sq_adc" ->
      "WITH el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), st AS (SELECT i, MIN(q) AS lo, MAX(q) AS hi FROM el GROUP BY i), cd AS (SELECT e.vec_id, e.i, CASE WHEN st.hi > st.lo THEN CAST(ROUND(CAST((e.q - st.lo) * 255 AS DOUBLE) / (st.hi - st.lo)) AS BIGINT) ELSE 0 END AS c, st.lo, st.hi FROM el e JOIN st USING (i) WHERE e.vec_id <> 0), rq AS (SELECT vec_id, i, CASE WHEN hi > lo THEN CAST(ROUND(lo + CAST(c * (hi - lo) AS DOUBLE) / 255.0) AS BIGINT) ELSE lo END AS r FROM cd), qn AS (SELECT CAST(SUM(q * q) AS BIGINT) AS qn2 FROM el WHERE vec_id = 0), ap AS (SELECT r.vec_id, CAST(SUM(r.r * q0.q) AS BIGINT) AS dot, CAST(SUM(r.r * r.r) AS BIGINT) AS n2 FROM rq r JOIN el q0 ON q0.vec_id = 0 AND q0.i = r.i GROUP BY r.vec_id) SELECT vec_id, ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(qn.qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)), 4) AS acos FROM ap, qn ORDER BY acos DESC, vec_id LIMIT 10",
    // ss18 residual PQ: the cell reference is the elementwise
    // FLOOR(sum/n) integer mean (exact in double at these magnitudes —
    // see Similarity.floorDivCol), residuals are integer subtractions,
    // sub-codebooks are FLOOR-mean residual sums, assignment replays the
    // penc argmax (guarded cosine, (ccos DESC, clabel) tie), and scoring
    // runs against the reconstruction x̂ = rcm(own label) + codeword.
    "ss18_residual_pq_adc" ->
      ("WITH el AS (SELECT vec_id, label, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), " +
        "cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM embeddings GROUP BY label), " +
        "rcm AS (SELECT e.label, e.i, CAST(FLOOR(CAST(SUM(e.q) AS DOUBLE) / ANY_VALUE(c.n)) AS BIGINT) AS rc FROM el e JOIN cnt c ON c.label = e.label GROUP BY e.label, e.i), " +
        "res AS (SELECT e.vec_id, e.label, CAST(e.i // 16 AS INT) AS sub, CAST(e.i % 16 AS INT) AS si, e.q - r.rc AS rq FROM el e JOIN rcm r ON r.label = e.label AND r.i = e.i), " +
        "mm AS (SELECT label, MIN(vec_id) AS mv FROM res GROUP BY label), " +
        "rep AS (SELECT r.label AS clabel, r.sub, r.si, r.rq AS cq FROM res r JOIN mm ON mm.label = r.label AND r.vec_id = mm.mv), " +
        "repn AS (SELECT clabel, sub, CAST(SUM(cq * cq) AS BIGINT) AS cn2 FROM rep GROUP BY clabel, sub), " +
        "rnrm AS (SELECT vec_id, sub, CAST(SUM(rq * rq) AS BIGINT) AS n2 FROM res GROUP BY vec_id, sub), " +
        "d1 AS (SELECT e.vec_id, e.sub, c.clabel, CAST(SUM(e.rq * c.cq) AS BIGINT) AS dot FROM res e JOIN rep c ON c.sub = e.sub AND c.si = e.si GROUP BY e.vec_id, e.sub, c.clabel), " +
        "rk1 AS (SELECT d.vec_id, d.sub, d.clabel, row_number() OVER (PARTITION BY d.vec_id, d.sub ORDER BY CASE WHEN n.n2 > 0 AND cn.cn2 > 0 THEN CAST(d.dot AS DOUBLE) / sqrt(CAST(cn.cn2 AS DOUBLE) * CAST(n.n2 AS DOUBLE)) ELSE -1.0 END DESC, d.clabel) AS rk FROM d1 d JOIN repn cn ON cn.clabel = d.clabel AND cn.sub = d.sub JOIN rnrm n ON n.vec_id = d.vec_id AND n.sub = d.sub), " +
        "enc1 AS (SELECT vec_id, sub, clabel FROM rk1 WHERE rk = 1), " +
        "cbm AS (SELECT enc.clabel, r.sub, r.si, CAST(FLOOR(CAST(SUM(r.rq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mq FROM res r JOIN enc1 enc ON enc.vec_id = r.vec_id AND enc.sub = r.sub GROUP BY enc.clabel, r.sub, r.si), " +
        "cn2m AS (SELECT clabel, sub, CAST(SUM(mq * mq) AS BIGINT) AS cn2 FROM cbm GROUP BY clabel, sub), " +
        "d2 AS (SELECT e.vec_id, e.sub, c.clabel, CAST(SUM(e.rq * c.mq) AS BIGINT) AS dot FROM res e JOIN cbm c ON c.sub = e.sub AND c.si = e.si GROUP BY e.vec_id, e.sub, c.clabel), " +
        "rk2 AS (SELECT d.vec_id, d.sub, d.clabel, row_number() OVER (PARTITION BY d.vec_id, d.sub ORDER BY CASE WHEN n.n2 > 0 AND cn.cn2 > 0 THEN CAST(d.dot AS DOUBLE) / sqrt(CAST(cn.cn2 AS DOUBLE) * CAST(n.n2 AS DOUBLE)) ELSE -1.0 END DESC, d.clabel) AS rk FROM d2 d JOIN cn2m cn ON cn.clabel = d.clabel AND cn.sub = d.sub JOIN rnrm n ON n.vec_id = d.vec_id AND n.sub = d.sub), " +
        "enc2 AS (SELECT vec_id, sub, clabel FROM rk2 WHERE rk = 1), " +
        "xh AS (SELECT enc.vec_id, enc.sub, b.si, r.rc + b.mq AS x FROM enc2 enc JOIN embeddings v ON v.vec_id = enc.vec_id JOIN cbm b ON b.clabel = enc.clabel AND b.sub = enc.sub JOIN rcm r ON r.label = v.label AND r.i = enc.sub * 16 + b.si), " +
        "qn AS (SELECT CAST(SUM(q * q) AS BIGINT) AS qn2 FROM el WHERE vec_id = 0), " +
        "sc AS (SELECT x.vec_id, CAST(SUM(q0.q * x.x) AS BIGINT) AS adot, CAST(SUM(x.x * x.x) AS BIGINT) AS an2 FROM xh x JOIN el q0 ON q0.vec_id = 0 AND q0.i = x.sub * 16 + x.si WHERE x.vec_id <> 0 GROUP BY x.vec_id) " +
        "SELECT vec_id, ROUND(CASE WHEN qn.qn2 > 0 AND an2 > 0 THEN CAST(adot AS DOUBLE) / sqrt(CAST(qn.qn2 AS DOUBLE) * CAST(an2 AS DOUBLE)) ELSE -1.0 END, 4) AS acos FROM sc, qn ORDER BY acos DESC, vec_id LIMIT 10"),
    "t14_unigram_logprob" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents), cnt AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY w), vocab AS (SELECT w, n FROM cnt ORDER BY n DESC, w LIMIT 50), tot AS (SELECT COUNT(*) AS n_total FROM tok), lp AS (SELECT t.doc_id, CAST(ROUND(ln((COALESCE(v.n, 0) + 1.0) / (tot.n_total + 50.0)) * 1000000) AS BIGINT) AS lp FROM tok t LEFT JOIN vocab v ON v.w = t.w, tot) SELECT doc_id, COUNT(*) AS n_tokens, " +
      ExactPresent.roundDivSql("SUM(lp)", "1000000 * COUNT(*)", 4) +
      " AS avg_logprob FROM lp GROUP BY doc_id ORDER BY doc_id"),
    "t15_classifier_score" ->
      "WITH wt AS (SELECT * FROM (VALUES ('data', 1200), ('customer', 800), ('vector', 900), ('supplier', 400), ('the', 300), ('region', -200), ('click', -700), ('error', -1500)) AS t(w, wm)), tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents), hits AS (SELECT t.doc_id, COUNT(*) AS n_hits, CAST(SUM(wt.wm) AS BIGINT) AS num FROM tok t JOIN wt ON wt.w = t.w GROUP BY t.doc_id), base AS (SELECT doc_id, len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens FROM documents) SELECT b.doc_id, b.n_tokens, COALESCE(h.n_hits, 0) AS n_hits, ROUND(1.0 / (1.0 + exp(-(-500.0 / 1000.0 + COALESCE(h.num, 0) / 1000.0 / b.n_tokens))), 4) AS prob, ROUND(1.0 / (1.0 + exp(-(-500.0 / 1000.0 + COALESCE(h.num, 0) / 1000.0 / b.n_tokens))), 4) >= 0.5 AS kept FROM base b LEFT JOIN hits h ON h.doc_id = b.doc_id ORDER BY b.doc_id",
    "ss07_kmeans_assign" ->
      s"WITH $kmeansAssignCtes SELECT a.vec_id, e.label, a.assigned, ROUND(a.ccos, 4) AS cos FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id ORDER BY a.vec_id",
    "c03_semantic_curation" ->
      s"WITH $kmeansAssignCtes, prs AS (SELECT x.vec_id AS ida, y.vec_id AS idb FROM asg x JOIN asg y ON x.assigned = y.assigned AND x.vec_id < y.vec_id), pd AS (SELECT p.ida, p.idb, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM prs p JOIN el a ON a.vec_id = p.ida JOIN el b ON b.vec_id = p.idb AND b.i = a.i GROUP BY p.ida, p.idb), losers AS (SELECT DISTINCT idb FROM pd JOIN nrm na ON na.vec_id = pd.ida JOIN nrm nb ON nb.vec_id = pd.idb WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.4), qtok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS quality FROM qtok) SELECT d.doc_id, q.quality FROM documents d JOIN q ON q.doc_id = d.doc_id WHERE d.doc_id NOT IN (SELECT idb FROM losers) AND q.quality >= 0.3 ORDER BY d.doc_id",
    "t01_token_count" ->
      "SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens, n_chars FROM documents ORDER BY doc_id",
    "t02_quality" ->
      ("WITH tok AS (SELECT doc_id, n_chars, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents) SELECT doc_id, len(ws) AS n_tokens, " +
      ExactPresent.roundDivSql("n_chars", "len(ws)", 2) + " AS avg_token_len, " +
      ExactPresent.roundDivSql("len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')])", "len(ws)", 3) + " AS stop_ratio, " +
      ExactPresent.roundDivSql("len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN len(ws) ELSE 0 END", "2 * len(ws)", 3) + " AS quality FROM tok ORDER BY doc_id"),
    "t03_langid" ->
      "WITH tok AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), sc AS (SELECT doc_id, lang, len([w FOR w IN ws IF w IN ('the','a','is')]) AS s_en, len([w FOR w IN ws IF w IN ('le','la','et')]) AS s_fr, len([w FOR w IN ws IF w IN ('der','die','und')]) AS s_de FROM tok) SELECT doc_id, lang, CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en > 0 THEN 'en' WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr' WHEN s_de > 0 THEN 'de' ELSE 'und' END AS pred FROM sc ORDER BY doc_id",
    "t04_fingerprint" ->
      "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM documents ORDER BY doc_id",
    "t05_bpe_tokens" ->
      ("SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_words, len(regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subtokens, " + ExactPresent.roundDivSql("len(regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 ]'))", "len(string_split_regex(trim(text), '\\s+'))", 3) + " AS ratio FROM documents ORDER BY doc_id"),
    "t06_quality_topk" ->
      "WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS quality FROM tok), r AS (SELECT d.lang, d.doc_id, q.quality, row_number() OVER (PARTITION BY d.lang ORDER BY q.quality DESC, d.doc_id) AS rk FROM documents d JOIN q ON q.doc_id = d.doc_id) SELECT lang, rk, doc_id, quality FROM r WHERE rk <= 3 ORDER BY lang, rk",
    "t07_repetition" ->
      ("WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), g AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN range(1, len(ws) - 1)] ELSE [] END AS g FROM tok) SELECT doc_id, len(g) AS n_grams, len(list_distinct(g)) AS n_unique, CASE WHEN len(g) > 0 THEN " +
      ExactPresent.roundDivSql("len(g) - len(list_distinct(g))", "len(g)", 3) +
      " ELSE 0.0 END AS rep_ratio FROM g ORDER BY doc_id"),
    "t08_scrub" ->
      "SELECT doc_id, len(regexp_extract_all(text, '\\b(customer|vector)\\b')) AS n_hits, regexp_replace(text, '\\b(customer|vector)\\b', '[X]', 'g') AS scrubbed, length(regexp_replace(text, '\\b(customer|vector)\\b', '[X]', 'g')) AS n_chars_scrubbed FROM documents ORDER BY doc_id",
    "t09_top_ngrams" ->
      "WITH w AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), g AS (SELECT ws[i] || ' ' || ws[i+1] AS gram FROM w, unnest(range(1, len(ws))) t(i)) SELECT gram, COUNT(*) AS n FROM g GROUP BY gram ORDER BY n DESC, gram LIMIT 20",
    "dd07_passage_dedup" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), p AS (SELECT doc_id, array_to_string(ws[(CAST(c AS INT)*20+1):(CAST(c AS INT)*20+20)], ' ') AS passage FROM w, unnest(range(0, (len(ws)+19)//20)) t(c)), cnt AS (SELECT passage, COUNT(*) AS occ FROM p GROUP BY passage) SELECT doc_id, COUNT(*) AS n_passages, CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages FROM p JOIN cnt USING(passage) GROUP BY doc_id ORDER BY doc_id",
    "dd08_incremental" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), k AS (SELECT doc_id, md5(array_to_string(ws[1:10], ' ')) AS fp FROM w), ex AS (SELECT DISTINCT fp FROM k WHERE doc_id % 2 = 0), inc AS (SELECT doc_id, fp FROM k WHERE doc_id % 2 = 1), mn AS (SELECT fp, MIN(doc_id) AS mn FROM inc GROUP BY fp) SELECT i.doc_id, i.fp, (ex.fp IS NULL AND i.doc_id = mn.mn) AS admitted FROM inc i LEFT JOIN ex ON ex.fp = i.fp JOIN mn ON mn.fp = i.fp ORDER BY i.doc_id",
    // dd10 is semantically IDENTICAL to dd08 (the Bloom filter is a
    // pre-filter whose false positives die in the exact join) — one
    // shared oracle text is the point: if they ever diverge, the gate
    // catches the Bloom path lying.
    "dd10_bloom_admit" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), k AS (SELECT doc_id, md5(array_to_string(ws[1:10], ' ')) AS fp FROM w), ex AS (SELECT DISTINCT fp FROM k WHERE doc_id % 2 = 0), inc AS (SELECT doc_id, fp FROM k WHERE doc_id % 2 = 1), mn AS (SELECT fp, MIN(doc_id) AS mn FROM inc GROUP BY fp) SELECT i.doc_id, i.fp, (ex.fp IS NULL AND i.doc_id = mn.mn) AS admitted FROM inc i LEFT JOIN ex ON ex.fp = i.fp JOIN mn ON mn.fp = i.fp ORDER BY i.doc_id",
    "dd11_winnow" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), h AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN [CAST(('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15)) AS BIGINT) FOR i IN range(1, len(ws) - 1)] ELSE CAST([] AS BIGINT[]) END AS hs FROM w), f AS (SELECT doc_id, [list_min(hs[j:j+3]) FOR j IN range(1, greatest(len(hs) - 3, 1) + 1)] AS fps FROM h WHERE len(hs) >= 1) SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp",
    "dd12_winnow_pairs" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), h AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN [CAST(('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15)) AS BIGINT) FOR i IN range(1, len(ws) - 1)] ELSE CAST([] AS BIGINT[]) END AS hs FROM w), f AS (SELECT doc_id, [list_min(hs[j:j+3]) FOR j IN range(1, greatest(len(hs) - 3, 1) + 1)] AS fps FROM h WHERE len(hs) >= 1), s AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f) SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_shared FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY ida, idb",
    "dd18_self_scrub" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), p AS (SELECT doc_id, CAST(c AS BIGINT) AS idx, array_to_string(ws[(CAST(c AS INT)*20+1):(CAST(c AS INT)*20+20)], ' ') AS passage FROM w, unnest(range(0, (len(ws)+19)//20)) t(c)), k AS (SELECT doc_id, idx, passage, MIN(idx) OVER (PARTITION BY doc_id, passage) AS fidx FROM p) SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages, CAST(SUM(CASE WHEN idx = fidx THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, array_to_string(list(passage ORDER BY idx) FILTER (idx = fidx), ' ') AS text_out FROM k GROUP BY doc_id ORDER BY doc_id",
    "dd17_containment" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), h AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN [CAST(('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15)) AS BIGINT) FOR i IN range(1, len(ws) - 1)] ELSE CAST([] AS BIGINT[]) END AS hs FROM w), f AS (SELECT doc_id, [list_min(hs[j:j+3]) FOR j IN range(1, greatest(len(hs) - 3, 1) + 1)] AS fps FROM h WHERE len(hs) >= 1), s AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f), n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id), p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_shared FROM s a JOIN s b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2 HAVING COUNT(*) >= 2) SELECT p.ida, p.idb, na.n AS n_a, nb.n AS n_b, p.n_shared, ROUND(CAST(p.n_shared AS DOUBLE) / LEAST(na.n, nb.n), 3) AS containment FROM p JOIN n na ON na.doc_id = p.ida JOIN n nb ON nb.doc_id = p.idb WHERE ROUND(CAST(p.n_shared AS DOUBLE) / LEAST(na.n, nb.n), 3) >= 0.25 ORDER BY ida, idb",
    "dd01_exact" ->
      "WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM documents) SELECT doc_id, fp, CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp) THEN true ELSE false END AS keep FROM fp ORDER BY doc_id",
    "dd02_ngram_jaccard" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS s FROM w, unnest(range(1, len(ws))) t(i)), n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS c FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id) SELECT ida, idb, ROUND(CAST(c AS DOUBLE) / (na.ns + nb.ns - c), 3) AS jaccard FROM inter JOIN n na ON na.doc_id = ida JOIN n nb ON nb.doc_id = idb WHERE CAST(c AS DOUBLE) / (na.ns + nb.ns - c) >= 0.3 ORDER BY ida, idb",
    "dd03_minhash_lsh" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS s FROM w, unnest(range(1, len(ws))) t(i)), hh AS (SELECT doc_id, s, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS hm FROM sh), sig AS (SELECT doc_id, MIN((506952114*hm + 40510) % 2147483647) AS m1, MIN((1013904228*hm + 81013) % 2147483647) AS m2, MIN((1520856342*hm + 121516) % 2147483647) AS m3, MIN((2027808456*hm + 162019) % 2147483647) AS m4, MIN((387276923*hm + 202522) % 2147483647) AS m5, MIN((894229037*hm + 243025) % 2147483647) AS m6, MIN((1401181151*hm + 283528) % 2147483647) AS m7, MIN((1908133265*hm + 324031) % 2147483647) AS m8, MIN((267601732*hm + 364534) % 2147483647) AS m9, MIN((774553846*hm + 405037) % 2147483647) AS m10, MIN((1281505960*hm + 445540) % 2147483647) AS m11, MIN((1788458074*hm + 486043) % 2147483647) AS m12, MIN((147926541*hm + 526546) % 2147483647) AS m13, MIN((654878655*hm + 567049) % 2147483647) AS m14, MIN((1161830769*hm + 607552) % 2147483647) AS m15, MIN((1668782883*hm + 648055) % 2147483647) AS m16 FROM hh GROUP BY doc_id), bands AS (SELECT doc_id, 0 AS band, m1 AS k1, m2 AS k2 FROM sig UNION ALL SELECT doc_id, 1 AS band, m3 AS k1, m4 AS k2 FROM sig UNION ALL SELECT doc_id, 2 AS band, m5 AS k1, m6 AS k2 FROM sig UNION ALL SELECT doc_id, 3 AS band, m7 AS k1, m8 AS k2 FROM sig UNION ALL SELECT doc_id, 4 AS band, m9 AS k1, m10 AS k2 FROM sig UNION ALL SELECT doc_id, 5 AS band, m11 AS k1, m12 AS k2 FROM sig UNION ALL SELECT doc_id, 6 AS band, m13 AS k1, m14 AS k2 FROM sig UNION ALL SELECT doc_id, 7 AS band, m15 AS k1, m16 AS k2 FROM sig), cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb FROM bands x JOIN bands y ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2 AND x.doc_id < y.doc_id), n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id), inter AS (SELECT c.ida, c.idb, COUNT(*) AS cc FROM cand c JOIN sh a ON a.doc_id = c.ida JOIN sh b ON b.doc_id = c.idb AND a.s = b.s GROUP BY c.ida, c.idb) SELECT i.ida, i.idb, ROUND(CAST(cc AS DOUBLE) / (na.ns + nb.ns - cc), 3) AS jaccard FROM inter i JOIN n na ON na.doc_id = i.ida JOIN n nb ON nb.doc_id = i.idb WHERE CAST(cc AS DOUBLE) / (na.ns + nb.ns - cc) >= 0.3 ORDER BY i.ida, i.idb",
    // dd19 composes dd02's exact arm (ground truth) with dd03's banding
    // (the candidate step under audit); deciles are integer-cut
    // ((10c)//u) so bucket boundaries cannot drift between engines.
    "dd19_lsh_recall_audit" ->
      ("WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS s FROM w, unnest(range(1, len(ws))) t(i)), n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS c FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), ex AS (SELECT ida, idb, c, na.ns + nb.ns - c AS u FROM inter JOIN n na ON na.doc_id = ida JOIN n nb ON nb.doc_id = idb WHERE CAST(c AS DOUBLE) / (na.ns + nb.ns - c) >= 0.3), hh AS (SELECT doc_id, s, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS hm FROM sh), sig AS (SELECT doc_id, MIN((506952114*hm + 40510) % 2147483647) AS m1, MIN((1013904228*hm + 81013) % 2147483647) AS m2, MIN((1520856342*hm + 121516) % 2147483647) AS m3, MIN((2027808456*hm + 162019) % 2147483647) AS m4, MIN((387276923*hm + 202522) % 2147483647) AS m5, MIN((894229037*hm + 243025) % 2147483647) AS m6, MIN((1401181151*hm + 283528) % 2147483647) AS m7, MIN((1908133265*hm + 324031) % 2147483647) AS m8, MIN((267601732*hm + 364534) % 2147483647) AS m9, MIN((774553846*hm + 405037) % 2147483647) AS m10, MIN((1281505960*hm + 445540) % 2147483647) AS m11, MIN((1788458074*hm + 486043) % 2147483647) AS m12, MIN((147926541*hm + 526546) % 2147483647) AS m13, MIN((654878655*hm + 567049) % 2147483647) AS m14, MIN((1161830769*hm + 607552) % 2147483647) AS m15, MIN((1668782883*hm + 648055) % 2147483647) AS m16 FROM hh GROUP BY doc_id), bands AS (SELECT doc_id, 0 AS band, m1 AS k1, m2 AS k2 FROM sig UNION ALL SELECT doc_id, 1 AS band, m3 AS k1, m4 AS k2 FROM sig UNION ALL SELECT doc_id, 2 AS band, m5 AS k1, m6 AS k2 FROM sig UNION ALL SELECT doc_id, 3 AS band, m7 AS k1, m8 AS k2 FROM sig UNION ALL SELECT doc_id, 4 AS band, m9 AS k1, m10 AS k2 FROM sig UNION ALL SELECT doc_id, 5 AS band, m11 AS k1, m12 AS k2 FROM sig UNION ALL SELECT doc_id, 6 AS band, m13 AS k1, m14 AS k2 FROM sig UNION ALL SELECT doc_id, 7 AS band, m15 AS k1, m16 AS k2 FROM sig), cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb FROM bands x JOIN bands y ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2 AND x.doc_id < y.doc_id), j AS (SELECT ex.c, ex.u, (cand.ida IS NOT NULL) AS caught FROM ex LEFT JOIN cand ON cand.ida = ex.ida AND cand.idb = ex.idb), g AS (SELECT CAST((10 * c) // u AS INT) AS bucket, COUNT(*) AS n_exact, CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT) AS n_caught FROM j GROUP BY 1) SELECT bucket, n_exact, n_caught, " +
        ExactPresent.roundDivSql("n_caught", "n_exact", 3) +
        " AS recall FROM g ORDER BY bucket"),
    // dd20 = dd19 with the exact ground-truth arm confined to a
    // deterministic md5 panel (both pair endpoints in-panel); the banded
    // candidate arm stays full-corpus — the audit's 100 TB scale path.
    "dd20_lsh_recall_sampled" ->
      ("WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS s FROM w, unnest(range(1, len(ws))) t(i)), psh AS (SELECT doc_id, s FROM sh WHERE CAST(('0x' || substr(md5('ddpanel:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 500), n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS c FROM psh a JOIN psh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), ex AS (SELECT ida, idb, c, na.ns + nb.ns - c AS u FROM inter JOIN n na ON na.doc_id = ida JOIN n nb ON nb.doc_id = idb WHERE CAST(c AS DOUBLE) / (na.ns + nb.ns - c) >= 0.3), hh AS (SELECT doc_id, s, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS hm FROM sh), sig AS (SELECT doc_id, MIN((506952114*hm + 40510) % 2147483647) AS m1, MIN((1013904228*hm + 81013) % 2147483647) AS m2, MIN((1520856342*hm + 121516) % 2147483647) AS m3, MIN((2027808456*hm + 162019) % 2147483647) AS m4, MIN((387276923*hm + 202522) % 2147483647) AS m5, MIN((894229037*hm + 243025) % 2147483647) AS m6, MIN((1401181151*hm + 283528) % 2147483647) AS m7, MIN((1908133265*hm + 324031) % 2147483647) AS m8, MIN((267601732*hm + 364534) % 2147483647) AS m9, MIN((774553846*hm + 405037) % 2147483647) AS m10, MIN((1281505960*hm + 445540) % 2147483647) AS m11, MIN((1788458074*hm + 486043) % 2147483647) AS m12, MIN((147926541*hm + 526546) % 2147483647) AS m13, MIN((654878655*hm + 567049) % 2147483647) AS m14, MIN((1161830769*hm + 607552) % 2147483647) AS m15, MIN((1668782883*hm + 648055) % 2147483647) AS m16 FROM hh GROUP BY doc_id), bands AS (SELECT doc_id, 0 AS band, m1 AS k1, m2 AS k2 FROM sig UNION ALL SELECT doc_id, 1 AS band, m3 AS k1, m4 AS k2 FROM sig UNION ALL SELECT doc_id, 2 AS band, m5 AS k1, m6 AS k2 FROM sig UNION ALL SELECT doc_id, 3 AS band, m7 AS k1, m8 AS k2 FROM sig UNION ALL SELECT doc_id, 4 AS band, m9 AS k1, m10 AS k2 FROM sig UNION ALL SELECT doc_id, 5 AS band, m11 AS k1, m12 AS k2 FROM sig UNION ALL SELECT doc_id, 6 AS band, m13 AS k1, m14 AS k2 FROM sig UNION ALL SELECT doc_id, 7 AS band, m15 AS k1, m16 AS k2 FROM sig), cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb FROM bands x JOIN bands y ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2 AND x.doc_id < y.doc_id), j AS (SELECT ex.c, ex.u, (cand.ida IS NOT NULL) AS caught FROM ex LEFT JOIN cand ON cand.ida = ex.ida AND cand.idb = ex.idb), g AS (SELECT CAST((10 * c) // u AS INT) AS bucket, COUNT(*) AS n_exact, CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT) AS n_caught FROM j GROUP BY 1) SELECT bucket, n_exact, n_caught, " +
        ExactPresent.roundDivSql("n_caught", "n_exact", 3) +
        " AS recall FROM g ORDER BY bucket"),
    "dd16_neardup_admit" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS s FROM w, unnest(range(1, len(ws))) t(i)), hh AS (SELECT doc_id, s, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS hm FROM sh), sig AS (SELECT doc_id, MIN((506952114*hm + 40510) % 2147483647) AS m1, MIN((1013904228*hm + 81013) % 2147483647) AS m2, MIN((1520856342*hm + 121516) % 2147483647) AS m3, MIN((2027808456*hm + 162019) % 2147483647) AS m4, MIN((387276923*hm + 202522) % 2147483647) AS m5, MIN((894229037*hm + 243025) % 2147483647) AS m6, MIN((1401181151*hm + 283528) % 2147483647) AS m7, MIN((1908133265*hm + 324031) % 2147483647) AS m8, MIN((267601732*hm + 364534) % 2147483647) AS m9, MIN((774553846*hm + 405037) % 2147483647) AS m10, MIN((1281505960*hm + 445540) % 2147483647) AS m11, MIN((1788458074*hm + 486043) % 2147483647) AS m12, MIN((147926541*hm + 526546) % 2147483647) AS m13, MIN((654878655*hm + 567049) % 2147483647) AS m14, MIN((1161830769*hm + 607552) % 2147483647) AS m15, MIN((1668782883*hm + 648055) % 2147483647) AS m16 FROM hh GROUP BY doc_id), bands AS (SELECT doc_id, 0 AS band, m1 AS k1, m2 AS k2 FROM sig UNION ALL SELECT doc_id, 1 AS band, m3 AS k1, m4 AS k2 FROM sig UNION ALL SELECT doc_id, 2 AS band, m5 AS k1, m6 AS k2 FROM sig UNION ALL SELECT doc_id, 3 AS band, m7 AS k1, m8 AS k2 FROM sig UNION ALL SELECT doc_id, 4 AS band, m9 AS k1, m10 AS k2 FROM sig UNION ALL SELECT doc_id, 5 AS band, m11 AS k1, m12 AS k2 FROM sig UNION ALL SELECT doc_id, 6 AS band, m13 AS k1, m14 AS k2 FROM sig UNION ALL SELECT doc_id, 7 AS band, m15 AS k1, m16 AS k2 FROM sig), cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb FROM bands x JOIN bands y ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2 AND x.doc_id % 2 = 1 AND y.doc_id % 2 = 0), n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id), inter AS (SELECT c.ida, c.idb, COUNT(*) AS cc FROM cand c JOIN sh a ON a.doc_id = c.ida JOIN sh b ON b.doc_id = c.idb AND a.s = b.s GROUP BY c.ida, c.idb), hit AS (SELECT DISTINCT i.ida FROM inter i JOIN n na ON na.doc_id = i.ida JOIN n nb ON nb.doc_id = i.idb WHERE CAST(cc AS DOUBLE) / (na.ns + nb.ns - cc) >= 0.3), nc AS (SELECT ida, COUNT(*) AS n_candidates FROM cand GROUP BY ida) SELECT d.doc_id, CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates, (h.ida IS NULL) AS admitted FROM documents d LEFT JOIN nc ON nc.ida = d.doc_id LEFT JOIN hit h ON h.ida = d.doc_id WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id",
    "dd04_simhash" ->
      "WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents), hh AS (SELECT doc_id, w, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM tok), bits AS (SELECT doc_id, j.j AS j, CASE WHEN SUM(CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN 1 ELSE 0 END AS bit FROM hh, unnest(range(0, 60)) j(j) GROUP BY doc_id, j.j), sig AS (SELECT doc_id, CAST(SUM(bit * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS simhash FROM bits GROUP BY doc_id) SELECT doc_id, simhash FROM sig ORDER BY doc_id",
    "dd05_simhash_pairs" ->
      s"WITH $simhashBandCtes SELECT ida, idb, bit_count(xor(ha, hb)) AS hamming FROM cand WHERE bit_count(xor(ha, hb)) <= 4 ORDER BY ida, idb",
    "c02_cluster_curation" ->
      s"WITH RECURSIVE $simhashBandCtes, prs AS (SELECT ida, idb FROM cand WHERE bit_count(xor(ha, hb)) <= 4), edges AS (SELECT ida AS a, idb AS b FROM prs UNION ALL SELECT idb, ida FROM prs), reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), comp AS (SELECT a, MIN(b) AS mn FROM reach GROUP BY a), qtok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS quality FROM qtok) SELECT d.doc_id, q.quality FROM documents d JOIN q ON q.doc_id = d.doc_id LEFT JOIN comp c ON c.a = d.doc_id WHERE LEAST(COALESCE(c.mn, d.doc_id), d.doc_id) = d.doc_id AND q.quality >= 0.3 ORDER BY d.doc_id",
    "dd06_neardup_clusters" ->
      s"WITH RECURSIVE $simhashBandCtes, prs AS (SELECT ida, idb FROM cand WHERE bit_count(xor(ha, hb)) <= 4), edges AS (SELECT ida AS a, idb AS b FROM prs UNION ALL SELECT idb, ida FROM prs), reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), comp AS (SELECT a, MIN(b) AS mn FROM reach GROUP BY a) SELECT d.doc_id, CAST(LEAST(COALESCE(c.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster FROM documents d LEFT JOIN comp c ON c.a = d.doc_id ORDER BY d.doc_id",
    "ss01_cosine_topk" ->
      s"WITH $cosTopCtes ${cosTopSelect(10)}",
    "ss19_rrf_fusion" ->
      (s"WITH $bm25Ctes, lex AS (${bm25Select(50)}), " +
        "lexr AS (SELECT doc_id AS id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank FROM lex), " +
        s"$cosTopCtes, den AS (${cosTopSelect(50)}), " +
        "denr AS (SELECT vec_id AS id, row_number() OVER (ORDER BY cos DESC, vec_id) AS dense_rank FROM den) " +
        "SELECT COALESCE(l.id, r.id) AS doc_id, CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank, CAST(COALESCE(r.dense_rank, 0) AS BIGINT) AS dense_rank, CAST(COALESCE(1000000 // (60 + l.lex_rank), 0) + COALESCE(1000000 // (60 + r.dense_rank), 0) AS BIGINT) AS rrf_micros FROM lexr l FULL OUTER JOIN denr r ON r.id = l.id ORDER BY rrf_micros DESC, doc_id LIMIT 20"),
    "ss20_mmr_diversify" -> mmrSql(nCand = 30, k = 10),
    "ss02_neardup" ->
      "WITH el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el GROUP BY vec_id), dots AS (SELECT a.vec_id AS ida, b.vec_id AS idb, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY a.vec_id, b.vec_id), sc AS (SELECT ida, idb, CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS c FROM dots JOIN nrm na ON na.vec_id = ida JOIN nrm nb ON nb.vec_id = idb) SELECT ida, idb, ROUND(c, 4) AS cos FROM sc WHERE c >= 0.4 ORDER BY ida, idb",
    "ss03_lsh_ann" ->
      "WITH el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), proj AS (SELECT vec_id, j.j AS j, CAST(SUM(q * ((((i + 1) * (j.j + 7) * 2654435761) % 97) - 48)) AS BIGINT) AS dot FROM el, unnest(range(0, 16)) j(j) GROUP BY vec_id, j.j), bkt AS (SELECT vec_id, CAST(SUM(CASE WHEN j < 8 AND dot >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS b1, CAST(SUM(CASE WHEN j >= 8 AND dot >= 0 THEN CAST(1 AS BIGINT) << (j - 8) ELSE 0 END) AS BIGINT) AS b2 FROM proj GROUP BY vec_id), qb AS (SELECT b1, b2 FROM bkt WHERE vec_id = 0), flips AS (SELECT CAST(0 AS BIGINT) AS m UNION SELECT CAST(1 AS BIGINT) << j.j FROM unnest(range(0, 8)) j(j) UNION SELECT (CAST(1 AS BIGINT) << j.j) | (CAST(1 AS BIGINT) << k.k) FROM unnest(range(0, 8)) j(j), unnest(range(0, 8)) k(k) WHERE k.k > j.j), cand AS (SELECT DISTINCT b.vec_id FROM bkt b, qb, flips f WHERE b.vec_id <> 0 AND (b.b1 = xor(qb.b1, f.m) OR b.b2 = xor(qb.b2, f.m))), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el GROUP BY vec_id), dots AS (SELECT b.vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id = 0 JOIN cand c ON c.vec_id = b.vec_id GROUP BY b.vec_id) SELECT d.vec_id, ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) AS cos FROM dots d JOIN nrm na ON na.vec_id = 0 JOIN nrm nb ON nb.vec_id = d.vec_id ORDER BY cos DESC, d.vec_id LIMIT 10",
    "ss04_lsh_neardup" ->
      "WITH el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), proj AS (SELECT vec_id, j.j AS j, CAST(SUM(q * ((((i + 1) * (j.j + 7) * 2654435761) % 97) - 48)) AS BIGINT) AS dot FROM el, unnest(range(0, 16)) j(j) GROUP BY vec_id, j.j), bkt AS (SELECT vec_id, CAST(SUM(CASE WHEN j < 8 AND dot >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS b1, CAST(SUM(CASE WHEN j >= 8 AND dot >= 0 THEN CAST(1 AS BIGINT) << (j - 8) ELSE 0 END) AS BIGINT) AS b2 FROM proj GROUP BY vec_id), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el GROUP BY vec_id), cand AS (SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb FROM bkt x JOIN bkt y ON (x.b1 = y.b1 OR x.b2 = y.b2) AND x.vec_id < y.vec_id), dots AS (SELECT c.ida, c.idb, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM cand c JOIN el a ON a.vec_id = c.ida JOIN el b ON b.vec_id = c.idb AND b.i = a.i GROUP BY c.ida, c.idb), sc AS (SELECT ida, idb, CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS c FROM dots JOIN nrm na ON na.vec_id = ida JOIN nrm nb ON nb.vec_id = idb) SELECT ida, idb, ROUND(c, 4) AS cos FROM sc WHERE c >= 0.4 ORDER BY ida, idb",
    "ss06_ivf_ann" ->
      "WITH el AS (SELECT vec_id, label, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), cent AS (SELECT label, i, CAST(SUM(q) AS BIGINT) AS cq FROM el GROUP BY label, i), cn AS (SELECT label, CAST(SUM(cq * cq) AS BIGINT) AS cn2 FROM cent GROUP BY label), qv AS (SELECT i, q FROM el WHERE vec_id = 0), qn AS (SELECT CAST(SUM(q * q) AS BIGINT) AS qn2 FROM qv), cdot AS (SELECT c.label, CAST(SUM(c.cq * q.q) AS BIGINT) AS dot FROM cent c JOIN qv q ON q.i = c.i GROUP BY c.label), cells AS (SELECT d.label FROM cdot d JOIN cn ON cn.label = d.label, qn ORDER BY CAST(d.dot AS DOUBLE) / sqrt(CAST(cn.cn2 AS DOUBLE) * CAST(qn.qn2 AS DOUBLE)) DESC, d.label LIMIT 2), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el GROUP BY vec_id), cand AS (SELECT e.vec_id FROM embeddings e JOIN cells ON cells.label = e.label WHERE e.vec_id <> 0), dots AS (SELECT b.vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id = 0 JOIN cand c ON c.vec_id = b.vec_id GROUP BY b.vec_id) SELECT d.vec_id, ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) AS cos FROM dots d JOIN nrm na ON na.vec_id = 0 JOIN nrm nb ON nb.vec_id = d.vec_id ORDER BY cos DESC, d.vec_id LIMIT 10",
    "ss15_filtered_ann" ->
      "WITH el AS (SELECT vec_id, label, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), cent AS (SELECT label, i, CAST(SUM(q) AS BIGINT) AS cq FROM el GROUP BY label, i), cn AS (SELECT label, CAST(SUM(cq * cq) AS BIGINT) AS cn2 FROM cent GROUP BY label), qv AS (SELECT i, q FROM el WHERE vec_id = 0), qn AS (SELECT CAST(SUM(q * q) AS BIGINT) AS qn2 FROM qv), cdot AS (SELECT c.label, CAST(SUM(c.cq * q.q) AS BIGINT) AS dot FROM cent c JOIN qv q ON q.i = c.i GROUP BY c.label), cells AS (SELECT d.label FROM cdot d JOIN cn ON cn.label = d.label, qn ORDER BY CAST(d.dot AS DOUBLE) / sqrt(CAST(cn.cn2 AS DOUBLE) * CAST(qn.qn2 AS DOUBLE)) DESC, d.label LIMIT 4), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el GROUP BY vec_id), cand AS (SELECT e.vec_id FROM embeddings e JOIN cells ON cells.label = e.label WHERE e.vec_id <> 0 AND e.vec_id % 3 = 0), dots AS (SELECT b.vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id = 0 JOIN cand c ON c.vec_id = b.vec_id GROUP BY b.vec_id) SELECT d.vec_id, ROUND(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) AS cos FROM dots d JOIN nrm na ON na.vec_id = 0 JOIN nrm nb ON nb.vec_id = d.vec_id ORDER BY cos DESC, d.vec_id LIMIT 10",
    "ss05_label_centroids" ->
      "WITH el AS (SELECT vec_id, label, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), s AS (SELECT label, i, CAST(SUM(q) AS BIGINT) AS sq FROM el GROUP BY label, i), n AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label) SELECT s.label, n.n, CAST(SUM(sq * sq) AS BIGINT) AS centroid_norm2 FROM s JOIN n ON n.label = s.label GROUP BY s.label, n.n ORDER BY s.label",
    "c01_curation" ->
      "WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS quality FROM tok), fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM documents), keep AS (SELECT doc_id FROM fp WHERE doc_id = (SELECT MIN(doc_id) FROM fp f2 WHERE f2.fp = fp.fp)), sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS s FROM tok, unnest(range(1, len(ws))) t(i)), n AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id), hh AS (SELECT doc_id, s, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS hm FROM sh), sig AS (SELECT doc_id, MIN((506952114*hm + 40510) % 2147483647) AS m1, MIN((1013904228*hm + 81013) % 2147483647) AS m2, MIN((1520856342*hm + 121516) % 2147483647) AS m3, MIN((2027808456*hm + 162019) % 2147483647) AS m4, MIN((387276923*hm + 202522) % 2147483647) AS m5, MIN((894229037*hm + 243025) % 2147483647) AS m6, MIN((1401181151*hm + 283528) % 2147483647) AS m7, MIN((1908133265*hm + 324031) % 2147483647) AS m8, MIN((267601732*hm + 364534) % 2147483647) AS m9, MIN((774553846*hm + 405037) % 2147483647) AS m10, MIN((1281505960*hm + 445540) % 2147483647) AS m11, MIN((1788458074*hm + 486043) % 2147483647) AS m12, MIN((147926541*hm + 526546) % 2147483647) AS m13, MIN((654878655*hm + 567049) % 2147483647) AS m14, MIN((1161830769*hm + 607552) % 2147483647) AS m15, MIN((1668782883*hm + 648055) % 2147483647) AS m16 FROM hh GROUP BY doc_id), bands AS (SELECT doc_id, 0 AS band, m1 AS k1, m2 AS k2 FROM sig UNION ALL SELECT doc_id, 1 AS band, m3 AS k1, m4 AS k2 FROM sig UNION ALL SELECT doc_id, 2 AS band, m5 AS k1, m6 AS k2 FROM sig UNION ALL SELECT doc_id, 3 AS band, m7 AS k1, m8 AS k2 FROM sig UNION ALL SELECT doc_id, 4 AS band, m9 AS k1, m10 AS k2 FROM sig UNION ALL SELECT doc_id, 5 AS band, m11 AS k1, m12 AS k2 FROM sig UNION ALL SELECT doc_id, 6 AS band, m13 AS k1, m14 AS k2 FROM sig UNION ALL SELECT doc_id, 7 AS band, m15 AS k1, m16 AS k2 FROM sig), cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb FROM bands x JOIN bands y ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2 AND x.doc_id < y.doc_id), inter AS (SELECT c.ida, c.idb, COUNT(*) AS cc FROM cand c JOIN sh a ON a.doc_id = c.ida JOIN sh b ON b.doc_id = c.idb AND a.s = b.s GROUP BY c.ida, c.idb), nd AS (SELECT DISTINCT idb FROM inter i JOIN n na ON na.doc_id = i.ida JOIN n nb ON nb.doc_id = i.idb WHERE ROUND(CAST(cc AS DOUBLE) / (na.ns + nb.ns - cc), 3) >= 0.9) SELECT d.doc_id, q.quality FROM documents d JOIN q ON q.doc_id = d.doc_id JOIN keep k ON k.doc_id = d.doc_id WHERE d.doc_id NOT IN (SELECT idb FROM nd) AND q.quality >= 0.3 ORDER BY d.doc_id",
    "m01_decode" ->
      "WITH cs AS (SELECT doc_id, CAST(SUM(ascii(substr(text, CAST(i AS INT), 1))) % 256 AS INT) AS checksum FROM documents, unnest(range(1, len(text) + 1)) t(i) GROUP BY doc_id) SELECT d.doc_id, d.n_chars AS n_bytes, c.checksum, ascii(substr(d.text, 1, 1)) AS head_byte, (d.n_chars - 1) // 100 + 1 AS n_frames FROM documents d JOIN cs c ON c.doc_id = d.doc_id ORDER BY d.doc_id",
    "dd09_duplicate_spans" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), sp AS (SELECT doc_id, array_to_string(ws[CAST(i AS INT):CAST(i+19 AS INT)], ' ') AS s FROM w, unnest(range(1, len(ws) - 18)) t(i) WHERE len(ws) >= 20), cnt AS (SELECT s, COUNT(*) AS occ FROM sp GROUP BY s), agg AS (SELECT doc_id, COUNT(*) AS n_windows, CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows FROM sp JOIN cnt USING(s) GROUP BY doc_id) SELECT d.doc_id, CAST(COALESCE(a.n_windows, 0) AS BIGINT) AS n_windows, CAST(COALESCE(a.n_dup_windows, 0) AS BIGINT) AS n_dup_windows FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id ORDER BY d.doc_id",
    "t10_common_ratio" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents), vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS n FROM tok GROUP BY w ORDER BY n DESC, w LIMIT 20)), cnt AS (SELECT t.doc_id, COUNT(*) AS n_all, CAST(SUM(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common FROM tok t LEFT JOIN vocab v ON v.w = t.w GROUP BY t.doc_id) SELECT doc_id, CAST(n_all AS BIGINT) AS n_tokens, n_common, " + ExactPresent.roundDivSql("n_common", "n_all", 3) + " AS common_ratio FROM cnt ORDER BY doc_id"),
    "t11_quality_bins" ->
      "WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS quality FROM tok), c AS (SELECT quantile_disc(quality, [0.25, 0.5, 0.75]) AS cuts FROM q) SELECT q.doc_id, q.quality, (CASE WHEN q.quality > c.cuts[1] THEN 1 ELSE 0 END + CASE WHEN q.quality > c.cuts[2] THEN 1 ELSE 0 END + CASE WHEN q.quality > c.cuts[3] THEN 1 ELSE 0 END) AS bin FROM q, c ORDER BY q.doc_id",
    "t12_corpus_profile" ->
      ("WITH tok AS (SELECT doc_id, source, lang, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, source, lang, len(ws) AS n_tokens, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS quality FROM tok) SELECT source, lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, " +
      ExactPresent.roundDivSql("SUM(CAST(ROUND(quality * 1000) AS BIGINT))",
        "1000 * COUNT(*)", 3) +
      " AS mean_quality FROM q GROUP BY source, lang ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST"),
    "sp03_temperature_mix" ->
      "WITH n AS (SELECT source, COUNT(*) AS n_source FROM documents GROUP BY source) SELECT d.doc_id, d.source, n.n_source, (CAST(CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS INT) + 0.0) < 10000.0 * LEAST(1.0, 3.0 / sqrt(n.n_source)) AS kept FROM documents d JOIN n ON n.source = d.source ORDER BY d.doc_id",
    "c05_diverse_sample" ->
      s"WITH $kmeansAssignCtes, qtok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS quality FROM qtok), r AS (SELECT a.assigned, a.vec_id AS doc_id, q.quality, row_number() OVER (PARTITION BY a.assigned ORDER BY q.quality DESC, a.vec_id) AS rk FROM asg a JOIN q ON q.doc_id = a.vec_id) SELECT assigned, rk, doc_id, quality FROM r WHERE rk <= 5 ORDER BY assigned, rk",
    "sp05_stratified_k" ->
      "WITH b AS (SELECT doc_id, lang, CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS ord FROM documents), r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY ord, doc_id) AS rk FROM b) SELECT lang, rk, doc_id FROM r WHERE rk <= 20 ORDER BY lang ASC NULLS FIRST, rk",
    "sp09_epoch_mix" ->
      "WITH wts AS (SELECT * FROM (VALUES ('src0', 2500), ('src1', 1000), ('src2', 300), ('src3', 1500)) w(source, wm)), b AS (SELECT d.doc_id, d.source, wm, CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS pm FROM documents d JOIN wts USING (source)), reps AS (SELECT doc_id, source, wm // 1000 + CASE WHEN pm < wm % 1000 THEN 1 ELSE 0 END AS n FROM b) SELECT source, doc_id, u.c AS copy FROM reps, unnest(range(1, n + 1)) u(c) WHERE n > 0 ORDER BY doc_id, copy",
    "sp07_chunk_windows" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents) SELECT doc_id, CAST(i + 1 AS INT) AS chunk, len(ws[(i*30+1):(i*30+40)]) AS n_tokens, array_to_string(ws[(i*30+1):(i*30+40)], ' ') AS chunk_text FROM w, unnest(range(0, (len(ws)-1)//30 + 1)) t(i) ORDER BY doc_id, chunk",
    "sp08_weighted_mix" ->
      "WITH n AS (SELECT COUNT(*) AS total FROM documents), wts AS (SELECT * FROM (VALUES ('src0', 400), ('src1', 300), ('src2', 200), ('src3', 100)) w(source, wm)), b AS (SELECT doc_id, source, CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS ord FROM documents), r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY ord, doc_id) AS rk FROM b) SELECT r.source, r.rk, r.doc_id FROM r JOIN wts USING (source), n WHERE r.rk <= ((n.total // 10) * wts.wm) // 1000 ORDER BY r.source, r.rk",
    "t16_normalize" ->
      "SELECT doc_id, nfc_normalize(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_text, nfc_normalize(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) <> text AS changed FROM documents ORDER BY doc_id",
    "t17_bm25" ->
      s"WITH $bm25Ctes ${bm25Select(20)}",
    "dd13_cdc_chunks" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), tk AS (SELECT doc_id, i.i AS i, ws[i.i] AS w FROM w, unnest(range(1, len(ws) + 1)) i(i)), g AS (SELECT doc_id, i, w, CASE WHEN CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS gate FROM tk), ck AS (SELECT doc_id, i, w, COALESCE(SUM(gate) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c FROM g), ch AS (SELECT doc_id, c, string_agg(w, ' ' ORDER BY i) AS chunk FROM ck GROUP BY doc_id, c), oc AS (SELECT chunk, COUNT(*) AS occ FROM ch GROUP BY chunk) SELECT ch.doc_id, COUNT(*) AS n_chunks, CAST(SUM(CASE WHEN oc.occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks FROM ch JOIN oc USING (chunk) GROUP BY ch.doc_id ORDER BY ch.doc_id",
    "sp10_curriculum" ->
      "WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS quality FROM tok) SELECT doc_id, quality, ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS seq FROM q ORDER BY seq",
    "sp11_token_budget" ->
      "WITH tok AS (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_tokens, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS quality FROM tok), cum AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM q) SELECT doc_id, source, quality, n_tokens, cum_tokens FROM cum WHERE cum_tokens - n_tokens < 2000 ORDER BY doc_id",
    "sp12_interleave_mix" ->
      "WITH wts AS (SELECT * FROM (VALUES ('src0', 400), ('src1', 300), ('src2', 200), ('src3', 100)) w(source, wm)), b AS (SELECT doc_id, d.source, wm, CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS ord FROM documents d JOIN wts ON wts.source = d.source), r AS (SELECT doc_id, source, wm, row_number() OVER (PARTITION BY source ORDER BY ord, doc_id) AS rk FROM b) SELECT doc_id, source, CAST(rk AS BIGINT) AS rk, (rk * 1000000) // wm AS v FROM r ORDER BY v, source, rk",
    "dd14_soft_dedup" ->
      "WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM documents), c AS (SELECT fp, COUNT(*) AS n_dups FROM fp GROUP BY fp) SELECT f.doc_id, c.n_dups, ROUND(1.0 / CAST(c.n_dups AS DOUBLE), 4) AS weight FROM fp f JOIN c USING (fp) ORDER BY f.doc_id",
    "dd15_passage_scrub" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), p AS (SELECT doc_id, CAST(c AS BIGINT) AS idx, array_to_string(ws[(CAST(c AS INT)*20+1):(CAST(c AS INT)*20+20)], ' ') AS passage FROM w, unnest(range(0, (len(ws)+19)//20)) t(c)), canon AS (SELECT passage, MIN(CAST(doc_id AS HUGEINT) * 1048576 + idx) AS ck FROM p GROUP BY passage) SELECT p.doc_id, COUNT(*) AS n_passages, CAST(SUM(CASE WHEN CAST(p.doc_id AS HUGEINT) * 1048576 + p.idx = c.ck THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, string_agg(CASE WHEN CAST(p.doc_id AS HUGEINT) * 1048576 + p.idx = c.ck THEN p.passage END, ' ' ORDER BY p.idx) AS clean_text FROM p JOIN canon c USING (passage) GROUP BY p.doc_id ORDER BY p.doc_id",
    "c08_cluster_safe_split" ->
      s"WITH RECURSIVE $simhashBandCtes, prs AS (SELECT ida, idb FROM cand WHERE bit_count(xor(ha, hb)) <= 4), edges AS (SELECT ida AS a, idb AS b FROM prs UNION ALL SELECT idb, ida FROM prs), reach(a, b) AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), comp AS (SELECT a, MIN(b) AS mn FROM reach GROUP BY a), cl AS (SELECT d.doc_id, CAST(LEAST(COALESCE(c.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster FROM documents d LEFT JOIN comp c ON c.a = d.doc_id) SELECT doc_id, cluster, CASE WHEN CAST(('0x' || substr(md5('csplit:' || CAST(cluster AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 900 THEN 'train' ELSE 'val' END AS split FROM cl ORDER BY doc_id",
    "sp14_preference_pairs" ->
      "WITH tok AS (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, source, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS qual FROM tok), r AS (SELECT doc_id, source, qual, row_number() OVER (PARTITION BY source ORDER BY qual DESC, doc_id) AS rk, COUNT(*) OVER (PARTITION BY source) AS tot FROM q), top AS (SELECT source, CAST(rk AS BIGINT) AS i, doc_id AS chosen_id, qual AS q_chosen FROM r WHERE rk <= tot // 2), bot AS (SELECT source, CAST(tot - rk + 1 AS BIGINT) AS i, doc_id AS rejected_id, qual AS q_rejected FROM r), p AS (SELECT t.source, t.i, t.chosen_id, b.rejected_id, ROUND(t.q_chosen - b.q_rejected, 3) AS margin FROM top t JOIN bot b ON b.source = t.source AND b.i = t.i) SELECT source, i, chosen_id, rejected_id, margin FROM p WHERE margin >= 0.001 ORDER BY source, i",
    "t27_linear_probe" ->
      "WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), lab AS (SELECT doc_id, CASE WHEN 10 * len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) >= len(ws) THEN 1 ELSE 0 END AS y, list_distinct([CAST(('0x' || substr(md5('feat:' || w), 1, 15)) AS BIGINT) % 16 FOR w IN ws]) AS dims FROM tok), f AS (SELECT doc_id, CAST(unnest(dims) AS INT) AS dim FROM lab), nn AS (SELECT 8 * COUNT(*) AS dv FROM lab), spine AS (SELECT CAST(i.i AS INT) AS dim FROM range(0, 16) i(i)), g1 AS (SELECT f.dim, CAST(SUM(-1000000 * l.y) AS BIGINT) AS g FROM f JOIN lab l USING (doc_id) GROUP BY f.dim), w1 AS (SELECT s.dim, CASE WHEN COALESCE(g1.g, 0) < 0 THEN ((-COALESCE(g1.g, 0)) // nn.dv) ELSE -(COALESCE(g1.g, 0) // nn.dv) END AS w FROM spine s LEFT JOIN g1 USING (dim), nn), p2 AS (SELECT f.doc_id, CAST(SUM(w1.w) AS BIGINT) AS p FROM f JOIN w1 USING (dim) GROUP BY f.doc_id), r2 AS (SELECT l.doc_id, COALESCE(p2.p, 0) - 1000000 * l.y AS r FROM lab l LEFT JOIN p2 USING (doc_id)), g2 AS (SELECT f.dim, CAST(SUM(r2.r) AS BIGINT) AS g FROM f JOIN r2 USING (doc_id) GROUP BY f.dim), w2 AS (SELECT s.dim, w1.w - (CASE WHEN COALESCE(g2.g, 0) < 0 THEN -((-COALESCE(g2.g, 0)) // nn.dv) ELSE COALESCE(g2.g, 0) // nn.dv END) AS w FROM spine s JOIN w1 USING (dim) LEFT JOIN g2 USING (dim), nn), p3 AS (SELECT f.doc_id, CAST(SUM(w2.w) AS BIGINT) AS p FROM f JOIN w2 USING (dim) GROUP BY f.doc_id), r3 AS (SELECT l.doc_id, COALESCE(p3.p, 0) - 1000000 * l.y AS r FROM lab l LEFT JOIN p3 USING (doc_id)), g3 AS (SELECT f.dim, CAST(SUM(r3.r) AS BIGINT) AS g FROM f JOIN r3 USING (doc_id) GROUP BY f.dim), w3 AS (SELECT s.dim, w2.w - (CASE WHEN COALESCE(g3.g, 0) < 0 THEN -((-COALESCE(g3.g, 0)) // nn.dv) ELSE COALESCE(g3.g, 0) // nn.dv END) AS w FROM spine s JOIN w2 USING (dim) LEFT JOIN g3 USING (dim), nn) SELECT CAST(s.dim AS BIGINT) AS dim, CAST(w1.w AS BIGINT) AS w1, CAST(w2.w AS BIGINT) AS w2, CAST(w3.w AS BIGINT) AS w3 FROM spine s JOIN w1 USING (dim) JOIN w2 USING (dim) JOIN w3 USING (dim) ORDER BY dim",
    "t26_stem_census" ->
      "WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents), f AS (SELECT w FROM w WHERE regexp_matches(w, '^[a-z]+$')), s AS (SELECT CASE WHEN regexp_matches(w, 'ies$') AND NOT regexp_matches(w, '(eies|aies)$') THEN regexp_replace(w, 'ies$', 'y') WHEN regexp_matches(w, 'es$') AND NOT regexp_matches(w, '(aes|ees|oes)$') THEN regexp_replace(w, 'es$', 'e') WHEN regexp_matches(w, 's$') AND NOT regexp_matches(w, '(us|ss)$') THEN regexp_replace(w, 's$', '') ELSE w END AS stem, w FROM f) SELECT stem, CAST(COUNT(*) AS BIGINT) AS n_tokens, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_variants FROM s GROUP BY 1 ORDER BY n_tokens DESC, stem LIMIT 50",
    "c13_embedding_drift" ->
      "WITH el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS v FROM embeddings, unnest(range(0, 64)) i(i)), proj AS (SELECT vec_id, j.j AS j, CAST(SUM(v * ((((i + 1) * (j.j + 7) * 2654435761) % 97) - 48)) AS BIGINT) AS dot FROM el, unnest(range(0, 8)) j(j) GROUP BY vec_id, j.j), bkt AS (SELECT vec_id, CAST(SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS cell FROM proj GROUP BY vec_id), cs AS (SELECT (e.vec_id // 20) % 2 AS snap, b.cell, e.i, CAST(SUM(e.v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM el e JOIN bkt b USING (vec_id) GROUP BY 1, 2, 3), a AS (SELECT cell, i, s, n FROM cs WHERE snap = 0), b AS (SELECT cell, i, s, n FROM cs WHERE snap = 1), j AS (SELECT COALESCE(a.cell, b.cell) AS cell, COALESCE(a.i, b.i) AS i, COALESCE(a.s, 0) AS sa, COALESCE(b.s, 0) AS sb, COALESCE(a.n, 0) AS na, COALESCE(b.n, 0) AS nb FROM a FULL OUTER JOIN b ON a.cell = b.cell AND a.i = b.i), g AS (SELECT cell, MAX(na) AS n_a, MAX(nb) AS n_b, CAST(SUM(sa * sb) AS BIGINT) AS dot, CAST(SUM(sa * sa) AS BIGINT) AS a2, CAST(SUM(sb * sb) AS BIGINT) AS b2 FROM j GROUP BY cell), tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM g), fin AS (SELECT g.cell, g.n_a, g.n_b, CASE WHEN g.a2 > 0 AND g.b2 > 0 THEN ROUND(CAST(g.dot AS DOUBLE) / sqrt(CAST(g.a2 AS DOUBLE) * CAST(g.b2 AS DOUBLE)), 4) END AS cos_shift, CAST(ABS(g.n_a * 1000 // t.ta - g.n_b * 1000 // t.tb) AS BIGINT) AS dshare_permille FROM g, tot t) SELECT cell, n_a, n_b, cos_shift, dshare_permille, CASE WHEN n_a = 0 THEN 'new' WHEN n_b = 0 THEN 'gone' WHEN cos_shift IS NULL OR cos_shift < 0.99 OR dshare_permille > 2 THEN 'drift' ELSE 'stable' END AS verdict FROM fin ORDER BY cell",
    "c12_drift_monitor" ->
      ("WITH d AS (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT source, CASE WHEN (doc_id // 20) % 2 = 0 THEN 'a' ELSE 'b' END AS snap, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS qual, len(ws) AS nt FROM d), b AS (SELECT source, snap, 'quality' AS dim, LEAST(CAST(floor(qual * 10) AS INT), 9) AS bin FROM q UNION ALL SELECT source, snap, 'length', LEAST(CAST(floor(nt / 16) AS INT), 9) FROM q), c AS (SELECT source, snap, dim, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3, 4), spine AS (SELECT DISTINCT c.source, c.dim, u.bin FROM c, unnest(range(0, 10)) u(bin)), j AS (SELECT s.source, s.dim, s.bin, COALESCE(ca.cnt, 0) AS ca, COALESCE(cb.cnt, 0) AS cb FROM spine s LEFT JOIN c ca ON ca.source = s.source AND ca.dim = s.dim AND ca.bin = s.bin AND ca.snap = 'a' LEFT JOIN c cb ON cb.source = s.source AND cb.dim = s.dim AND cb.bin = s.bin AND cb.snap = 'b'), t AS (SELECT source, dim, ca, cb, SUM(ca) OVER (PARTITION BY source, dim) AS na, SUM(cb) OVER (PARTITION BY source, dim) AS nb FROM j), p AS (SELECT source, dim, na, nb, CAST(ROUND((CAST(ca + 1 AS DOUBLE) / (na + 10) - CAST(cb + 1 AS DOUBLE) / (nb + 10)) * ln((CAST(ca + 1 AS DOUBLE) / (na + 10)) / (CAST(cb + 1 AS DOUBLE) / (nb + 10))) * 100000000) AS BIGINT) AS term FROM t), f AS (SELECT source, CAST(MAX(CASE WHEN dim = 'quality' THEN na END) AS BIGINT) AS n_a, CAST(MAX(CASE WHEN dim = 'quality' THEN nb END) AS BIGINT) AS n_b, " +
      ExactPresent.roundDivSql("SUM(CASE WHEN dim = 'quality' THEN term END)",
        "100000000", 4) + " AS psi_quality, " +
      ExactPresent.roundDivSql("SUM(CASE WHEN dim = 'length' THEN term END)",
        "100000000", 4) + " AS psi_length FROM p GROUP BY 1) SELECT source, n_a, n_b, psi_quality, psi_length, CASE WHEN GREATEST(psi_quality, psi_length) > 0.2 THEN 'shift' WHEN GREATEST(psi_quality, psi_length) > 0.1 THEN 'drift' ELSE 'stable' END AS verdict FROM f ORDER BY source"),
    "c11_dataset_card" ->
      "WITH tok AS (SELECT doc_id, source, lang, string_split_regex(lower(trim(text)), '\\s+') AS ws, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM documents), sc AS (SELECT doc_id, source, lang, fp, CAST(len(ws) AS BIGINT) AS nt, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS q FROM tok), dc AS (SELECT fp, COUNT(*) AS nd FROM sc GROUP BY fp), n AS (SELECT COUNT(*) AS total FROM sc) SELECT s.source, COUNT(*) AS n_docs, CAST(SUM(s.nt) AS BIGINT) AS n_tokens, ROUND(CAST(SUM(CAST(ROUND(s.q * 1000) AS BIGINT)) AS DOUBLE) / 1000.0 / COUNT(*), 3) AS avg_quality, CAST(SUM(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs, CAST(COUNT(DISTINCT s.lang) AS BIGINT) AS n_langs, CAST(SUM(CASE WHEN s.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en, (COUNT(*) * 1000) // MAX(n.total) AS share_permille FROM sc s JOIN dc d USING (fp), n GROUP BY s.source ORDER BY s.source",
    "c10_split_leakage" ->
      s"WITH $simhashBandCtes, prs AS (SELECT ida, idb FROM cand WHERE bit_count(xor(ha, hb)) <= 4), sp AS (SELECT doc_id, CASE WHEN CAST(CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS INT) < 90 THEN 'train' WHEN CAST(CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS INT) < 95 THEN 'val' ELSE 'test' END AS split FROM documents) SELECT LEAST(a.split, b.split) AS split_a, GREATEST(a.split, b.split) AS split_b, COUNT(*) AS n_pairs FROM prs JOIN sp a ON a.doc_id = prs.ida JOIN sp b ON b.doc_id = prs.idb GROUP BY 1, 2 ORDER BY split_a, split_b",
    "sp13_priority_sample" ->
      "WITH it AS (SELECT doc_id, source, GREATEST(n_chars, 1) AS w FROM documents), p AS (SELECT doc_id, source, w, CAST(w AS DOUBLE) / (CAST(CAST(('0x' || substr(md5('prio:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0) AS pr FROM it), r AS (SELECT doc_id, source, w, pr, row_number() OVER (ORDER BY pr DESC, doc_id) AS rn FROM p), top AS (SELECT * FROM r WHERE rn <= 51), tau AS (SELECT COALESCE(MAX(CASE WHEN rn = 51 THEN pr END), 0.0) AS tau FROM top) SELECT doc_id, source, w, ROUND(GREATEST(CAST(w AS DOUBLE), tau), 3) AS est_w FROM top, tau WHERE rn <= 50 ORDER BY doc_id",
    "t23_hashed_features" -> {
      val fs = (0 until 16).map(i =>
        s"CAST(len([x FOR x IN bs IF x = $i]) AS BIGINT) AS f$i").mkString(", ")
      s"WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), b AS (SELECT doc_id, [CAST(('0x' || substr(md5('feat:' || w), 1, 15)) AS BIGINT) % 16 FOR w IN ws] AS bs FROM tok) SELECT doc_id, CAST(len(bs) AS BIGINT) AS n_tokens, $fs FROM b ORDER BY doc_id"
    },
    "t22_readability" ->
      ("WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws, lower(trim(text)) AS lt FROM documents), st AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, CAST(GREATEST(1, len(regexp_extract_all(lt, '[.!?]+'))) AS BIGINT) AS n_sentences, CAST(list_sum([GREATEST(1, len(regexp_extract_all(x, '[aeiouy]+'))) FOR x IN ws]) AS BIGINT) AS n_syllables FROM w) SELECT doc_id, n_words, n_sentences, n_syllables, " +
      ExactPresent.roundDivSql(
        "39 * n_words * n_words + 1180 * n_syllables * n_sentences" +
          " - 1559 * n_sentences * n_words",
        "100 * n_sentences * n_words", 3) +
      " AS fk_grade FROM st ORDER BY doc_id"),
    "t21_token_entropy" ->
      "WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents), c AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w), s AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct, CAST(SUM(CAST(ROUND(ln(CAST(c AS DOUBLE)) * c * 1000000) AS BIGINT)) AS BIGINT) AS s FROM c GROUP BY doc_id) SELECT doc_id, n_tokens, CAST(n_distinct AS BIGINT) AS n_distinct, ROUND(ln(CAST(n_tokens AS DOUBLE)) - CAST(s AS DOUBLE) / 1000000.0 / n_tokens, 4) AS entropy FROM s ORDER BY doc_id",
    "ss13_mips" ->
      "WITH el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)) SELECT b.vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id = 0 AND b.vec_id <> 0 GROUP BY b.vec_id ORDER BY dot DESC, b.vec_id LIMIT 10",
    "ss14_mips_bucketed" ->
      "WITH el0 AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el0 GROUP BY vec_id), m AS (SELECT MAX(n2) AS m2 FROM nrm), el AS (SELECT * FROM el0 UNION ALL SELECT vec_id, 64 AS i, CASE WHEN vec_id = 0 THEN CAST(0 AS BIGINT) ELSE CAST(ROUND(sqrt(CAST(m.m2 - n2 AS DOUBLE))) AS BIGINT) END AS q FROM nrm, m), proj AS (SELECT vec_id, j.j AS j, CAST(SUM(q * ((((i + 1) * (j.j + 7) * 2654435761) % 97) - 48)) AS BIGINT) AS dot FROM el, unnest(range(0, 16)) j(j) GROUP BY vec_id, j.j), bkt AS (SELECT vec_id, CAST(SUM(CASE WHEN j < 8 AND dot >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS b1, CAST(SUM(CASE WHEN j >= 8 AND dot >= 0 THEN CAST(1 AS BIGINT) << (j - 8) ELSE 0 END) AS BIGINT) AS b2 FROM proj GROUP BY vec_id), qb AS (SELECT b1, b2 FROM bkt WHERE vec_id = 0), flips AS (SELECT CAST(0 AS BIGINT) AS m UNION SELECT CAST(1 AS BIGINT) << j.j FROM unnest(range(0, 8)) j(j) UNION SELECT (CAST(1 AS BIGINT) << j.j) | (CAST(1 AS BIGINT) << k.k) FROM unnest(range(0, 8)) j(j), unnest(range(0, 8)) k(k) WHERE k.k > j.j), cand AS (SELECT DISTINCT b.vec_id FROM bkt b, qb, flips f WHERE b.vec_id <> 0 AND (b.b1 = xor(qb.b1, f.m) OR b.b2 = xor(qb.b2, f.m))), dots AS (SELECT b.vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id = 0 JOIN cand c ON c.vec_id = b.vec_id GROUP BY b.vec_id) SELECT vec_id, dot FROM dots ORDER BY dot DESC, vec_id LIMIT 10",
    "ss17_recall_audit" ->
      "WITH el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el GROUP BY vec_id), proj AS (SELECT vec_id, j.j AS j, CAST(SUM(q * ((((i + 1) * (j.j + 7) * 2654435761) % 97) - 48)) AS BIGINT) AS dot FROM el, unnest(range(0, 16)) j(j) GROUP BY vec_id, j.j), bkt AS (SELECT vec_id, CAST(SUM(CASE WHEN j < 8 AND dot >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS b1, CAST(SUM(CASE WHEN j >= 8 AND dot >= 0 THEN CAST(1 AS BIGINT) << (j - 8) ELSE 0 END) AS BIGINT) AS b2 FROM proj GROUP BY vec_id), qs AS (SELECT vec_id AS qid, b1 AS qb1, b2 AS qb2 FROM bkt WHERE vec_id < 5), flips AS (SELECT CAST(0 AS BIGINT) AS m UNION SELECT CAST(1 AS BIGINT) << j.j FROM unnest(range(0, 8)) j(j) UNION SELECT (CAST(1 AS BIGINT) << j.j) | (CAST(1 AS BIGINT) << k.k) FROM unnest(range(0, 8)) j(j), unnest(range(0, 8)) k(k) WHERE k.k > j.j), cand AS (SELECT DISTINCT qs.qid, b.vec_id FROM bkt b, qs, flips f WHERE b.vec_id <> qs.qid AND (b.b1 = xor(qs.qb1, f.m) OR b.b2 = xor(qs.qb2, f.m))), dots AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id < 5 AND b.vec_id <> a.vec_id GROUP BY a.vec_id, b.vec_id), cosks AS (SELECT d.qid, d.vec_id, ROUND(CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 4) AS cos FROM dots d JOIN nrm na ON na.vec_id = d.qid JOIN nrm nb ON nb.vec_id = d.vec_id), ek AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS r FROM cosks) WHERE r <= 10), ak AS (SELECT qid, vec_id FROM (SELECT c.qid, c.vec_id, row_number() OVER (PARTITION BY c.qid ORDER BY k.cos DESC, c.vec_id) AS r FROM cand c JOIN cosks k ON k.qid = c.qid AND k.vec_id = c.vec_id) WHERE r <= 10), nc AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand GROUP BY qid), h AS (SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS hits FROM ek e JOIN ak a ON a.qid = e.qid AND a.vec_id = e.vec_id GROUP BY e.qid) SELECT q.qid, COALESCE(nc.n_cand, CAST(0 AS BIGINT)) AS n_cand, COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits, COALESCE(h.hits, CAST(0 AS BIGINT)) * 10 AS recall_pct FROM qs q LEFT JOIN nc USING (qid) LEFT JOIN h USING (qid) ORDER BY q.qid",
    "ss16_truncated_rerank" ->
      "WITH el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), pd AS (SELECT b.vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS pdot FROM el a JOIN el b ON a.i = b.i AND a.vec_id = 0 AND b.vec_id <> 0 WHERE a.i < 32 GROUP BY b.vec_id), cand AS (SELECT vec_id, pdot FROM pd ORDER BY pdot DESC, vec_id LIMIT 30), fd AS (SELECT b.vec_id, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id = 0 JOIN cand c ON c.vec_id = b.vec_id GROUP BY b.vec_id) SELECT f.vec_id, f.dot, c.pdot AS prefix_dot FROM fd f JOIN cand c USING (vec_id) ORDER BY f.dot DESC, f.vec_id LIMIT 10",
    "t19_dsir_weights" ->
      ("WITH arr AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), g AS (SELECT doc_id, doc_id % 97 = 0 AS t, CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15)) AS BIGINT) % 256 AS b FROM arr, unnest(range(1, len(ws))) u(i) WHERE len(ws) >= 2), tgt AS (SELECT b, COUNT(*) AS nt FROM g WHERE t GROUP BY b), rw AS (SELECT b, COUNT(*) AS nr FROM g WHERE NOT t GROUP BY b), tot AS (SELECT CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t, CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_r FROM g), lr AS (SELECT g.doc_id, CAST(ROUND((ln((COALESCE(tgt.nt, 0) + 1.0) / (tot.n_t + 256.0)) - ln((COALESCE(rw.nr, 0) + 1.0) / (tot.n_r + 256.0))) * 1000000) AS BIGINT) AS lr FROM g LEFT JOIN tgt ON tgt.b = g.b LEFT JOIN rw ON rw.b = g.b, tot WHERE NOT g.t), sc AS (SELECT doc_id, COUNT(*) AS n_grams, SUM(lr) AS s FROM lr GROUP BY doc_id) SELECT d.doc_id, COALESCE(sc.n_grams, 0) AS n_grams, " +
      ExactPresent.roundDivSql("sc.s", "1000000 * sc.n_grams", 4) +
      " AS avg_log_ratio FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id"),
    "t28_collocations" ->
      "WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), tok AS (SELECT unnest(ws) AS w FROM d), uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w), n1t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM tok), bg AS (SELECT ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2 FROM d, unnest(range(1, len(ws))) t(i) WHERE len(ws) >= 2), n2t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM bg), bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= 5) SELECT b.w1, b.w2, b.c12, CAST(ROUND(ln((CAST(b.c12 AS DOUBLE) / n2) / ((CAST(u1.c AS DOUBLE) / n1) * (CAST(u2.c AS DOUBLE) / n1))) * 1000000) AS BIGINT) AS pmi_micro FROM bgc b JOIN uni u1 ON u1.w = b.w1 JOIN uni u2 ON u2.w = b.w2, n1t, n2t ORDER BY pmi_micro DESC, b.w1, b.w2 LIMIT 20",
    "t20_bigram_logprob" ->
      ("WITH arr AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), tok AS (SELECT doc_id, unnest(ws) AS w FROM arr), cnt AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY w), vocab AS (SELECT w, n FROM cnt ORDER BY n DESC, w LIMIT 50), tot AS (SELECT COUNT(*) AS n_total FROM tok), bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM arr, unnest(range(1, len(ws))) u(i) WHERE len(ws) >= 2), bgc AS (SELECT bg.w1, bg.w2, COUNT(*) AS c12 FROM bg JOIN vocab v1 ON v1.w = bg.w1 JOIN vocab v2 ON v2.w = bg.w2 GROUP BY bg.w1, bg.w2), lp AS (SELECT b.doc_id, CAST(ROUND(ln(CASE WHEN bgc.c12 IS NOT NULL THEN 0.7 * bgc.c12 / v1.n ELSE 0.0 END + 0.3 * (COALESCE(v2.n, 0) + 1.0) / (tot.n_total + 50.0)) * 1000000) AS BIGINT) AS lp FROM bg b LEFT JOIN bgc ON bgc.w1 = b.w1 AND bgc.w2 = b.w2 LEFT JOIN vocab v1 ON v1.w = b.w1 LEFT JOIN vocab v2 ON v2.w = b.w2, tot), sc AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lp) AS s FROM lp GROUP BY doc_id) SELECT d.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams, " + ExactPresent.roundDivSql("sc.s", "1000000 * sc.n_bigrams", 4) +
      " AS avg_logprob FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id ORDER BY d.doc_id"),
    "t18_quality_rules" ->
      "WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), st AS (SELECT doc_id, len(ws) AS n, CAST(list_sum([length(x) FOR x IN ws]) AS BIGINT) AS tl, len(list_distinct(ws)) AS nd, len(list_intersect(list_distinct(ws), ['the','a','of','to','and','in','is','it'])) AS sh, CAST(list_max([len([y FOR y IN ws IF y = x]) FOR x IN list_distinct(ws)]) AS BIGINT) AS tc FROM tok) SELECT doc_id, n AS n_tokens, (tl * 100) // n AS mean_len_centi, (nd * 1000) // n AS distinct_permille, sh AS stop_hits, (tc * 1000) // n AS top_permille, n BETWEEN 30 AND 120 AS r_words, tl >= 3 * n AND tl <= 10 * n AS r_mean_len, nd * 1000 >= n * 500 AS r_distinct, sh >= 2 AS r_stop, tc * 1000 <= n * 150 AS r_top, (n BETWEEN 30 AND 120) AND tl >= 3 * n AND tl <= 10 * n AND nd * 1000 >= n * 500 AND sh >= 2 AND tc * 1000 <= n * 150 AS pass FROM st ORDER BY doc_id",
    "c06_embedding_decontaminate" ->
      "WITH el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el GROUP BY vec_id), d AS (SELECT a.vec_id AS vid, b.vec_id AS bid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id % 97 <> 0 AND b.vec_id % 97 = 0 GROUP BY a.vec_id, b.vec_id), mx AS (SELECT vid, ROUND(MAX(CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))), 4) AS max_cos FROM d JOIN nrm na ON na.vec_id = vid JOIN nrm nb ON nb.vec_id = bid GROUP BY vid) SELECT e.vec_id, mx.max_cos, mx.max_cos >= 0.4 AS contaminated FROM embeddings e JOIN mx ON mx.vid = e.vec_id WHERE e.vec_id % 97 <> 0 ORDER BY e.vec_id",
    "sp06_shuffle_shard" ->
      "WITH b AS (SELECT doc_id, CAST(CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT) AS shard, CAST(('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS ord FROM documents) SELECT doc_id, shard, row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS pos FROM b ORDER BY shard, pos",
    "t13_tfidf" ->
      "WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents), tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w), df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w), n AS (SELECT COUNT(*) AS n_docs FROM documents), s AS (SELECT tf.doc_id, tf.w, tf.tf, df.df, ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS score FROM tf JOIN df USING (w), n), r AS (SELECT doc_id, w, tf, df, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rk FROM s) SELECT doc_id, rk, w AS term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score FROM r WHERE rk <= 3 ORDER BY doc_id, rk",
    "sp04_pack_sequences" ->
      "WITH tok AS (SELECT doc_id, source, CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens FROM documents), c AS (SELECT doc_id, source, n_tokens, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens AS start_offset FROM tok) SELECT doc_id, source, n_tokens, CAST(start_offset AS BIGINT) AS start_offset, CAST(start_offset AS BIGINT) // 512 AS bin FROM c ORDER BY doc_id",
    "sp01_split_sample" ->
      "WITH b AS (SELECT doc_id, lang, CAST(CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS INT) AS sb, CAST(CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS INT) AS kb FROM documents) SELECT doc_id, lang, CASE WHEN sb < 90 THEN 'train' WHEN sb < 95 THEN 'val' ELSE 'test' END AS split, kb < (CASE WHEN lang = 'en' THEN 100 WHEN lang = 'fr' THEN 50 WHEN lang = 'de' THEN 25 ELSE 10 END) AS kept FROM b ORDER BY doc_id",
    "sp02_source_quota" ->
      "WITH tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), q AS (SELECT doc_id, ROUND(CAST(len([w FOR w IN ws IF w IN ('the','a','of','to','and','in','is','it')]) AS DOUBLE) / len(ws) * 0.5 + CASE WHEN len(ws) BETWEEN 20 AND 80 THEN 0.5 ELSE 0.0 END, 3) AS quality FROM tok), r AS (SELECT d.source, d.doc_id, q.quality, row_number() OVER (PARTITION BY d.source ORDER BY q.quality DESC, d.doc_id) AS rk FROM documents d JOIN q ON q.doc_id = d.doc_id) SELECT source, rk, doc_id, quality FROM r WHERE rk <= 10 ORDER BY source, rk",
    "c04_decontaminate" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s FROM w, unnest(range(1, len(ws) - 1)) t(i)), bg AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0), shared AS (SELECT doc_id, COUNT(*) AS n_shared FROM sh JOIN bg USING (s) WHERE doc_id % 97 <> 0 GROUP BY doc_id) SELECT d.doc_id, COALESCE(sh2.n_shared, 0) AS n_shared, COALESCE(sh2.n_shared, 0) >= 2 AS contaminated FROM documents d LEFT JOIN shared sh2 ON sh2.doc_id = d.doc_id WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id",
    "c09_benchmark_scrub" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), p AS (SELECT doc_id, CAST(c AS BIGINT) AS idx, array_to_string(ws[(CAST(c AS INT)*20+1):(CAST(c AS INT)*20+20)], ' ') AS passage FROM w, unnest(range(0, (len(ws)+19)//20)) t(c)), bp AS (SELECT DISTINCT passage FROM p WHERE doc_id % 97 = 0), cp AS (SELECT * FROM p WHERE doc_id % 97 <> 0), k AS (SELECT cp.doc_id, cp.idx, cp.passage FROM cp LEFT JOIN bp ON bp.passage = cp.passage WHERE bp.passage IS NULL), agg AS (SELECT doc_id, COUNT(*) AS n_kept, string_agg(passage, ' ' ORDER BY idx) AS clean_text FROM k GROUP BY doc_id), np AS (SELECT doc_id, COUNT(*) AS n_passages FROM cp GROUP BY doc_id) SELECT np.doc_id, np.n_passages, CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept, agg.clean_text FROM np LEFT JOIN agg ON agg.doc_id = np.doc_id ORDER BY np.doc_id",
    "c07_contamination_report" ->
      "WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents), sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s FROM w, unnest(range(1, len(ws) - 1)) t(i)), bg AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0), shared AS (SELECT doc_id, COUNT(*) AS n_shared FROM sh JOIN bg USING (s) WHERE doc_id % 97 <> 0 GROUP BY doc_id), fl AS (SELECT d.doc_id, d.source, COALESCE(s2.n_shared, 0) AS n_shared FROM documents d LEFT JOIN shared s2 ON s2.doc_id = d.doc_id WHERE d.doc_id % 97 <> 0) SELECT source, COUNT(*) AS n_docs, CAST(SUM(CASE WHEN n_shared >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated, MAX(n_shared) AS max_shared, (CAST(SUM(CASE WHEN n_shared >= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1000) // COUNT(*) AS contaminated_permille FROM fl GROUP BY source ORDER BY source",
    "ss08_knn_join" ->
      "WITH el AS (SELECT vec_id, i.i AS i, CAST(ROUND(CAST(embedding[i.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM embeddings, unnest(range(0, 64)) i(i)), nrm AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM el GROUP BY vec_id), d AS (SELECT a.vec_id AS qid, b.vec_id AS vid, CAST(SUM(a.q * b.q) AS BIGINT) AS dot FROM el a JOIN el b ON a.i = b.i AND a.vec_id % 50 = 0 AND b.vec_id % 50 <> 0 GROUP BY a.vec_id, b.vec_id), r AS (SELECT qid, vid, CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS c, row_number() OVER (PARTITION BY qid ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) DESC, vid) AS rk FROM d JOIN nrm na ON na.vec_id = qid JOIN nrm nb ON nb.vec_id = vid) SELECT qid, rk, vid AS vec_id, ROUND(c, 4) AS cos FROM r WHERE rk <= 3 ORDER BY qid, rk",
    "m04_phash" ->
      "WITH ch AS (SELECT doc_id, i.i AS i, ascii(substr(text, CAST(i.i AS INT), 1)) AS byte, ((i.i - 1) * 60) // len(text) AS b FROM documents, unnest(range(1, len(text) + 1)) i(i)), bs AS (SELECT doc_id, b, SUM(byte) AS s, COUNT(*) AS c FROM ch GROUP BY doc_id, b), tot AS (SELECT doc_id, SUM(byte) AS ts, COUNT(*) AS tc FROM ch GROUP BY doc_id) SELECT bs.doc_id, CAST(SUM(CASE WHEN bs.s * tot.tc > tot.ts * bs.c THEN CAST(1 AS BIGINT) << bs.b ELSE 0 END) AS BIGINT) AS phash FROM bs JOIN tot ON tot.doc_id = bs.doc_id GROUP BY bs.doc_id ORDER BY bs.doc_id",
    "m05_audio_fingerprint" ->
      "WITH ch AS (SELECT doc_id, ascii(substr(text, CAST(i.i AS INT), 1)) AS v, ((i.i - 1) * 61) // len(text) AS b FROM documents, unnest(range(1, len(text) + 1)) i(i)), bs AS (SELECT doc_id, b, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS c FROM ch GROUP BY doc_id, b), fp AS (SELECT bs.doc_id, CAST(SUM(CASE WHEN nb.s * bs.c > bs.s * nb.c THEN CAST(1 AS BIGINT) << bs.b ELSE 0 END) AS BIGINT) AS afp FROM bs JOIN bs nb ON nb.doc_id = bs.doc_id AND nb.b = bs.b + 1 GROUP BY bs.doc_id) SELECT d.doc_id, CAST(COALESCE(fp.afp, 0) AS BIGINT) AS afp FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id ORDER BY d.doc_id",
    "m03_resize" ->
      "WITH rs AS (SELECT doc_id, [ascii(substr(text, CAST(i AS INT), 1)) FOR i IN range(1, len(text) + 1, 3)] AS g FROM documents) SELECT d.doc_id, d.n_chars AS n_bytes, len(g) AS resized_bytes, CAST(COALESCE(list_sum(g), 0) % 256 AS INT) AS resized_checksum FROM documents d JOIN rs ON rs.doc_id = d.doc_id ORDER BY d.doc_id",
    "m06_scene_cuts" ->
      ("WITH fr AS (SELECT doc_id, CAST(i AS INT) // 100 AS frame_no, " +
        "COUNT(*) AS c, CAST(SUM(ascii(substr(text, CAST(i + 1 AS INT), 1))) AS BIGINT) AS s " +
        "FROM documents, unnest(range(0, len(text))) t(i) GROUP BY 1, 2), " +
        "d AS (SELECT doc_id, frame_no, c, s, lag(s) OVER w AS ps, lag(c) OVER w AS pc " +
        "FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)), " +
        "f AS (SELECT doc_id, frame_no, c, CASE WHEN ps IS NOT NULL AND " +
        "abs(s * pc - ps * c) > 3 * c * pc THEN 1 ELSE 0 END AS cut FROM d), " +
        "sc AS (SELECT doc_id, frame_no, c, CAST(SUM(cut) OVER " +
        "(PARTITION BY doc_id ORDER BY frame_no) AS INT) AS scene FROM f) " +
        "SELECT doc_id, scene, CAST(MIN(frame_no) AS INT) AS first_frame, " +
        "CAST(COUNT(*) AS BIGINT) AS n_frames, CAST(SUM(c) AS BIGINT) AS scene_bytes " +
        "FROM sc GROUP BY doc_id, scene ORDER BY doc_id, scene"),
    "m07_scene_keyframes" ->
      ("WITH fr AS (SELECT doc_id, CAST(i AS INT) // 100 AS frame_no, " +
        "COUNT(*) AS c, CAST(SUM(ascii(substr(text, CAST(i + 1 AS INT), 1))) AS BIGINT) AS s " +
        "FROM documents, unnest(range(0, len(text))) t(i) GROUP BY 1, 2), " +
        "d AS (SELECT doc_id, frame_no, c, s, lag(s) OVER w AS ps, lag(c) OVER w AS pc " +
        "FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)), " +
        "f AS (SELECT doc_id, frame_no, c, s, CASE WHEN ps IS NOT NULL AND " +
        "abs(s * pc - ps * c) > 3 * c * pc THEN 1 ELSE 0 END AS cut FROM d), " +
        "sc AS (SELECT doc_id, frame_no, c, s, CAST(SUM(cut) OVER " +
        "(PARTITION BY doc_id ORDER BY frame_no) AS INT) AS scene FROM f), " +
        "ag AS (SELECT doc_id, scene, CAST(SUM(c) AS BIGINT) AS cb, " +
        "CAST(SUM(s) AS BIGINT) AS ssum, CAST(COUNT(*) AS BIGINT) AS nf " +
        "FROM sc GROUP BY 1, 2), " +
        "r AS (SELECT sc.doc_id, sc.scene, ag.nf, sc.frame_no, ag.cb, " +
        "abs(sc.s * ag.cb - ag.ssum * sc.c) AS dv, row_number() OVER " +
        "(PARTITION BY sc.doc_id, sc.scene ORDER BY " +
        "abs(sc.s * ag.cb - ag.ssum * sc.c), sc.frame_no) AS rk " +
        "FROM sc JOIN ag USING (doc_id, scene)) " +
        "SELECT doc_id, scene, nf AS n_frames, CAST(frame_no AS INT) AS keyframe, " +
        "cb AS scene_bytes, CAST(dv AS BIGINT) AS key_dev " +
        "FROM r WHERE rk = 1 ORDER BY doc_id, scene"),
    "m08_duplicate_scenes" ->
      ("WITH fr AS (SELECT doc_id, CAST(i AS INT) // 100 AS frame_no, " +
        "COUNT(*) AS c, CAST(SUM(ascii(substr(text, CAST(i + 1 AS INT), 1))) AS BIGINT) AS s " +
        "FROM documents, unnest(range(0, len(text))) t(i) GROUP BY 1, 2), " +
        "d AS (SELECT doc_id, frame_no, c, s, lag(s) OVER w AS ps, lag(c) OVER w AS pc " +
        "FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)), " +
        "f AS (SELECT doc_id, frame_no, c, s, CASE WHEN ps IS NOT NULL AND " +
        "abs(s * pc - ps * c) > 3 * c * pc THEN 1 ELSE 0 END AS cut FROM d), " +
        "sc AS (SELECT doc_id, frame_no, c, s, CAST(SUM(cut) OVER " +
        "(PARTITION BY doc_id ORDER BY frame_no) AS INT) AS scene FROM f), " +
        "ag AS (SELECT doc_id, scene, CAST(COUNT(*) AS BIGINT) AS nf, " +
        "CAST(SUM(c) AS BIGINT) AS cb, CAST(SUM(s) AS BIGINT) AS ssum " +
        "FROM sc GROUP BY 1, 2), " +
        "dsc AS (SELECT DISTINCT doc_id, nf, cb, ssum FROM ag), " +
        "ns AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scenes " +
        "FROM dsc GROUP BY 1), " +
        "pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "CAST(COUNT(*) AS BIGINT) AS shared_scenes FROM dsc a JOIN dsc b " +
        "ON a.nf = b.nf AND a.cb = b.cb AND a.ssum = b.ssum " +
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT pr.doc_a, pr.doc_b, pr.shared_scenes, " +
        "na.n_scenes AS a_scenes, nb.n_scenes AS b_scenes, " +
        "pr.shared_scenes * 1000000 // least(na.n_scenes, nb.n_scenes) " +
        "AS containment_ppm FROM pr " +
        "JOIN ns na ON na.doc_id = pr.doc_a " +
        "JOIN ns nb ON nb.doc_id = pr.doc_b ORDER BY doc_a, doc_b"),
    "m09_video_clusters" ->
      ("WITH RECURSIVE fr AS (SELECT doc_id, CAST(i AS INT) // 100 AS frame_no, " +
        "COUNT(*) AS c, CAST(SUM(ascii(substr(text, CAST(i + 1 AS INT), 1))) AS BIGINT) AS s " +
        "FROM documents, unnest(range(0, len(text))) t(i) GROUP BY 1, 2), " +
        "d AS (SELECT doc_id, frame_no, c, s, lag(s) OVER w AS ps, lag(c) OVER w AS pc " +
        "FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)), " +
        "f AS (SELECT doc_id, frame_no, c, s, CASE WHEN ps IS NOT NULL AND " +
        "abs(s * pc - ps * c) > 3 * c * pc THEN 1 ELSE 0 END AS cut FROM d), " +
        "sc AS (SELECT doc_id, frame_no, c, s, CAST(SUM(cut) OVER " +
        "(PARTITION BY doc_id ORDER BY frame_no) AS INT) AS scene FROM f), " +
        "ag AS (SELECT doc_id, scene, CAST(COUNT(*) AS BIGINT) AS nf, " +
        "CAST(SUM(c) AS BIGINT) AS cb, CAST(SUM(s) AS BIGINT) AS ssum " +
        "FROM sc GROUP BY 1, 2), " +
        "dsc AS (SELECT DISTINCT doc_id, nf, cb, ssum FROM ag), " +
        "ns AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scenes " +
        "FROM dsc GROUP BY 1), " +
        "pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "CAST(COUNT(*) AS BIGINT) AS shared FROM dsc a JOIN dsc b " +
        "ON a.nf = b.nf AND a.cb = b.cb AND a.ssum = b.ssum " +
        "AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "flt AS (SELECT pr.doc_a, pr.doc_b FROM pr " +
        "JOIN ns na ON na.doc_id = pr.doc_a " +
        "JOIN ns nb ON nb.doc_id = pr.doc_b " +
        "WHERE pr.shared * 1000000 // least(na.n_scenes, nb.n_scenes) >= 500000), " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM flt " +
        "UNION ALL SELECT doc_b, doc_a FROM flt), " +
        "reach(a, b) AS (SELECT a, b FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "comp AS (SELECT a, MIN(b) AS mn FROM reach GROUP BY a) " +
        "SELECT d.doc_id, CAST(LEAST(COALESCE(c.mn, d.doc_id), d.doc_id) " +
        "AS BIGINT) AS cluster FROM documents d " +
        "LEFT JOIN comp c ON c.a = d.doc_id ORDER BY d.doc_id"),
    "m10_silence_segments" ->
      ("WITH fr AS (SELECT doc_id, CAST(i AS INT) // 100 AS frame_no, " +
        "COUNT(*) AS c, CAST(SUM(ascii(substr(text, CAST(i + 1 AS INT), 1))) AS BIGINT) AS s " +
        "FROM documents, unnest(range(0, len(text))) t(i) GROUP BY 1, 2), " +
        "sl AS (SELECT doc_id, frame_no, c, s, (s < 94 * c) AS sil FROM fr), " +
        "st AS (SELECT doc_id, frame_no, c, s, sil, CASE WHEN NOT sil AND " +
        "COALESCE(lag(sil) OVER w, TRUE) THEN 1 ELSE 0 END AS strt " +
        "FROM sl WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)), " +
        "sg AS (SELECT doc_id, frame_no, c, s, sil, CAST(SUM(strt) OVER " +
        "(PARTITION BY doc_id ORDER BY frame_no) - 1 AS INT) AS segment " +
        "FROM st) " +
        "SELECT doc_id, segment, CAST(MIN(frame_no) AS INT) AS first_frame, " +
        "CAST(COUNT(*) AS BIGINT) AS n_frames, CAST(SUM(c) AS BIGINT) AS seg_bytes, " +
        "CAST(SUM(s) AS BIGINT) AS seg_sum FROM sg WHERE NOT sil " +
        "GROUP BY doc_id, segment ORDER BY doc_id, segment"),
    "m11_duplicate_segments" ->
      ("WITH fr AS (SELECT doc_id, CAST(i AS INT) // 100 AS frame_no, " +
        "COUNT(*) AS c, CAST(SUM(ascii(substr(text, CAST(i + 1 AS INT), 1))) AS BIGINT) AS s " +
        "FROM documents, unnest(range(0, len(text))) t(i) GROUP BY 1, 2), " +
        "sl AS (SELECT doc_id, frame_no, c, s, (s < 94 * c) AS sil FROM fr), " +
        "st AS (SELECT doc_id, frame_no, c, s, sil, CASE WHEN NOT sil AND " +
        "COALESCE(lag(sil) OVER w, TRUE) THEN 1 ELSE 0 END AS strt " +
        "FROM sl WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)), " +
        "sg AS (SELECT doc_id, frame_no, c, s, sil, CAST(SUM(strt) OVER " +
        "(PARTITION BY doc_id ORDER BY frame_no) - 1 AS INT) AS segment " +
        "FROM st), " +
        "ag AS (SELECT doc_id, segment, CAST(COUNT(*) AS BIGINT) AS nf, " +
        "CAST(SUM(c) AS BIGINT) AS cb, CAST(SUM(s) AS BIGINT) AS ssum " +
        "FROM sg WHERE NOT sil GROUP BY 1, 2), " +
        "dsc AS (SELECT DISTINCT doc_id, nf, cb, ssum FROM ag), " +
        "ns AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_units " +
        "FROM dsc GROUP BY 1), " +
        "pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "CAST(COUNT(*) AS BIGINT) AS shared_segments FROM dsc a JOIN dsc b " +
        "ON a.nf = b.nf AND a.cb = b.cb AND a.ssum = b.ssum " +
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT pr.doc_a, pr.doc_b, pr.shared_segments, " +
        "na.n_units AS a_segments, nb.n_units AS b_segments, " +
        "pr.shared_segments * 1000000 // least(na.n_units, nb.n_units) " +
        "AS containment_ppm FROM pr " +
        "JOIN ns na ON na.doc_id = pr.doc_a " +
        "JOIN ns nb ON nb.doc_id = pr.doc_b ORDER BY doc_a, doc_b"),
    "m02_frames" ->
      "WITH fr AS (SELECT doc_id, CAST(f AS INT) AS frame_no, substr(text, CAST(f AS INT) * 100 + 1, 100) AS chunk FROM documents, unnest(range(0, (len(text) - 1) // 100 + 1)) t(f)) SELECT doc_id, frame_no, length(chunk) AS n_bytes, CAST(SUM(ascii(substr(chunk, CAST(i AS INT), 1))) % 256 AS INT) AS checksum FROM fr, unnest(range(1, length(chunk) + 1)) u(i) GROUP BY doc_id, frame_no, chunk ORDER BY doc_id, frame_no",
  )
}
