package graft

/**
 * DuckDB oracle SQL for the training-data-pipeline operators (dedup,
 * similarity search, text analysis, multimodal metadata) and the relational
 * coverage queries. See [[OracleSql]] for the dead-letter pipeline oracles.
 *
 * Hash-bearing oracles reproduce the engine's md5-based hashing bit-for-bit;
 * cosine oracles rely on DuckDB's `list_dot_product` over DOUBLE[] folding
 * sequentially, which matches Spark's `aggregate(zip_with(...))` exactly
 * (validated: bit-identical doubles).
 */
object OracleSqlOps {

  private val toks = "list_filter(string_split(text, ' '), x -> x <> '')"
  private def stopList(lang: String): String =
    graft.ops.TextAnalysis.Stopwords(lang).map(w => s"'$w'").mkString("[", ",", "]")

  val textTokens: String = s"""SELECT doc_id,
  CAST(len($toks) AS INT) AS n_tokens_ws,
  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS n_tokens_bpe,
  CAST(length(text) AS INT) AS n_chars
FROM documents"""

  val langId: String = s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
s AS (SELECT doc_id,
  CAST(len(list_filter(tk, x -> list_contains(${stopList("en")}, x))) AS INT) AS score_en,
  CAST(len(list_filter(tk, x -> list_contains(${stopList("de")}, x))) AS INT) AS score_de,
  CAST(len(list_filter(tk, x -> list_contains(${stopList("es")}, x))) AS INT) AS score_es,
  CAST(len(list_filter(tk, x -> list_contains(${stopList("fr")}, x))) AS INT) AS score_fr
FROM t)
SELECT doc_id, score_en, score_de, score_es, score_fr,
  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
       WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
       WHEN score_es >= score_fr THEN 'es' ELSE 'fr' END AS lang_guess
FROM s"""

  /** Trigram language-ID oracle (mirrors graft.ops.TextAnalysis.langId2):
    * the per-language profile is the SAME driver-computed artifact the
    * engine ships (trigramProfile literals — trigrams are [a-z ] only, no
    * quoting hazards); the oracle restates only the scoring: padded
    * normalized trigrams, map-literal weight lookup, occurrence sum,
    * en>de>es>fr tie priority. */
  val textLangid2: String = {
    def mapLit(lang: String): String = {
      val prof = graft.ops.TextAnalysis.trigramProfile(lang)
      s"MAP([${prof.map(p => s"'${p._1}'").mkString(",")}]," +
        s"[${prof.map(_._2).mkString(",")}])"
    }
    def score(lang: String): String =
      s"CAST(coalesce(list_sum(list_transform(tris, t -> " +
        s"coalesce(map_extract(${mapLit(lang)}, t)[1], 0))), 0) AS INT)"
    s"""WITH n AS (
  SELECT doc_id, ' ' || trim(regexp_replace(regexp_replace(lower(text),
    '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')) || ' ' AS s
  FROM documents
), tr AS (
  SELECT doc_id, CASE WHEN length(s) >= 3
    THEN list_transform(range(1, length(s) - 1), i -> substr(s, CAST(i AS INT), 3))
    ELSE CAST([] AS VARCHAR[]) END AS tris
  FROM n
), sc AS (
  SELECT doc_id, ${score("en")} AS score_en, ${score("de")} AS score_de,
    ${score("es")} AS score_es, ${score("fr")} AS score_fr
  FROM tr
)
SELECT doc_id, score_en, score_de, score_es, score_fr,
  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
       WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
       WHEN score_es >= score_fr THEN 'es' ELSE 'fr' END AS lang_guess
FROM sc"""
  }

  val quality: String = qualityOver("documents")

  /** Quality-signal SQL over an arbitrary (doc_id, text) relation — reused
    * by the composed corpus-prep oracle. */
  private def qualityOver(src: String): String =
    s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM $src),
q AS (SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(len(tk) AS INT) AS n_tokens,
  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS INT) AS alpha,
  CAST(len(list_filter(tk, x -> list_contains(${stopList("en")}, x))) AS INT) AS stops,
  CAST(list_sum(list_transform(tk, x -> length(x))) AS INT) AS tok_chars
FROM t)
SELECT doc_id, n_chars, n_tokens,
  CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(tok_chars AS DOUBLE) / n_tokens END AS avg_token_len,
  CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_chars END AS alpha_ratio,
  CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(stops AS DOUBLE) / n_tokens END AS stopword_ratio,
  (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(stops AS DOUBLE) / n_tokens END) * 0.4 + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(tok_chars AS DOUBLE) / n_tokens END) / 10.0, 1.0) * 0.3 + (CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_chars END) * 0.3 AS quality
FROM q"""

  /** word bigrams of a token list `tk` (empty for <2 tokens). */
  private val bigramsExpr =
    "list_transform(list_zip(tk[:len(tk)-1], tk[2:]), x -> struct_extract(x,1) || ' ' || struct_extract(x,2))"

  val fingerprint: String = s"""WITH t AS (SELECT doc_id, lower(text) AS lt, $toks AS tk FROM documents)
SELECT doc_id, md5(lt) AS fp_md5,
  list_min(list_transform($bigramsExpr, b -> md5(b))) AS fp_min_bigram
FROM t"""

  /** Top-K document-frequency vocabulary (mirrors
    * graft.ops.TextAnalysis.vocabulary, minDf=2, topK=1000). */
  val textVocab: String = s"""WITH dtoks AS (
  SELECT DISTINCT doc_id, unnest($toks) AS tok FROM documents
), dfs AS (
  SELECT tok, count(*) AS df FROM dtoks GROUP BY tok HAVING count(*) >= 2
), ranked AS (
  SELECT tok, CAST(df AS BIGINT) AS df,
    row_number() OVER (ORDER BY df DESC, tok) AS rank
  FROM dfs
)
SELECT CAST(rank AS INT) AS rank, tok, df FROM ranked WHERE rank <= 1000"""

  /** Token-id encoding oracle (mirrors graft.ops.TextAnalysis.encodeIds,
    * minDf=2, topK=1000): vocab ranks per token position, OOV -> -1. */
  val textEncode: String = s"""WITH t AS (
  SELECT doc_id, $toks AS tk FROM documents
), dtoks AS (
  SELECT DISTINCT doc_id, unnest($toks) AS tok FROM documents
), dfs AS (
  SELECT tok, count(*) AS df FROM dtoks GROUP BY tok HAVING count(*) >= 2
), vocab AS (
  SELECT tok, rank FROM (
    SELECT tok, row_number() OVER (ORDER BY df DESC, tok) AS rank FROM dfs)
  WHERE rank <= 1000
), posts AS (
  SELECT doc_id, unnest(ps, recursive := true) FROM (
    SELECT doc_id, list_transform(range(1, len(tk) + 1),
      i -> struct_pack(p := i, tok := tk[i])) AS ps
    FROM t)
), j AS (
  SELECT posts.doc_id, posts.p, coalesce(v.rank, -1) AS id,
    CASE WHEN v.rank IS NULL THEN 1 ELSE 0 END AS oov
  FROM posts LEFT JOIN vocab v USING (tok)
), agg AS (
  SELECT doc_id, list(id ORDER BY p) AS token_ids,
    CAST(sum(oov) AS INT) AS n_oov
  FROM j GROUP BY doc_id
)
SELECT t.doc_id,
  array_to_string(list_transform(
    coalesce(agg.token_ids, CAST([] AS BIGINT[])),
    x -> CAST(x AS VARCHAR)), ':') AS token_ids_str,
  coalesce(agg.n_oov, 0) AS n_oov
FROM t LEFT JOIN agg USING (doc_id)"""

  /** Deterministic hash split (mirrors graft.ops.TextAnalysis.hashSplit,
    * trainPct=90): md5 lane of the stringified doc_id, mod 100. */
  val textSplit: String = textSplitOver("documents")

  private def textSplitOver(src: String): String = s"""SELECT doc_id,
  CASE WHEN (${hexLaneOf("CAST(doc_id AS VARCHAR)", 1, 7)}) % 100 < 90 THEN 'train' ELSE 'val' END AS split
FROM $src"""

  /** DuckDB word n-grams of a token list `tk`, space-joined (mirrors
    * graft.ops.TextAnalysis.grams). */
  private def gramsExpr(width: Int): String =
    s"list_transform(range(1, greatest(len(tk) - ${width - 1}, 0) + 1), " +
      s"i -> array_to_string(array_slice(tk, i, i + ${width - 1}), ' '))"

  /** Repetition signals (mirrors graft.ops.TextAnalysis.repetition). */
  val textRepetition: String = s"""WITH t AS (
  SELECT doc_id, $toks AS tk FROM documents
), a AS (
  SELECT doc_id, tk, len(tk) AS n,
    ${gramsExpr(2)} AS bg, ${gramsExpr(3)} AS tg
  FROM t
), topb AS (
  SELECT doc_id, max(c) AS topc FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (SELECT doc_id, unnest(bg) AS g FROM a) GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT a.doc_id,
  CASE WHEN n = 0 THEN 0.0 ELSE CAST(n - len(list_distinct(tk)) AS DOUBLE) / n END AS dup_token_frac,
  CASE WHEN len(tg) = 0 THEN 0.0 ELSE CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / len(tg) END AS dup_trigram_frac,
  CASE WHEN len(bg) = 0 THEN 0.0 ELSE coalesce(CAST(topc AS DOUBLE) / len(bg), 0.0) END AS top_bigram_frac
FROM a LEFT JOIN topb ON a.doc_id = topb.doc_id"""

  /** Contamination check (mirrors graft.ops.TextAnalysis.decontaminate,
    * width=5, trainPct=90): train docs sharing any word 5-gram with a val
    * doc. */
  val textDecontaminate: String = s"""WITH t AS (
  SELECT doc_id, $toks AS tk FROM documents
), s AS (
  SELECT doc_id,
    CASE WHEN (${hexLaneOf("CAST(doc_id AS VARCHAR)", 1, 7)}) % 100 < 90 THEN 'train' ELSE 'val' END AS split
  FROM documents
), g AS (
  SELECT DISTINCT doc_id, g FROM
    (SELECT doc_id, unnest(${gramsExpr(5)}) AS g FROM t)
), vg AS (
  SELECT DISTINCT g.g FROM g JOIN s USING (doc_id) WHERE s.split = 'val'
), c AS (
  SELECT DISTINCT g.doc_id FROM g JOIN s USING (doc_id) JOIN vg ON g.g = vg.g
  WHERE s.split = 'train'
)
SELECT s.doc_id, s.split, (s.split = 'train' AND c.doc_id IS NOT NULL) AS contaminated
FROM s LEFT JOIN c ON s.doc_id = c.doc_id"""

  /** Sequence packing (mirrors graft.ops.TextAnalysis.pack, budget=2048,
    * shards=32). */
  val textPack: String = textPackOver("documents")

  private def textPackOver(src: String): String = s"""WITH t AS (
  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens,
    (${hexLaneOf("CAST(doc_id AS VARCHAR)", 1, 7)}) AS lane
  FROM $src
), sh AS (
  SELECT *, CAST(lane % 32 AS INT) AS shard FROM t
), c AS (
  SELECT *, coalesce(sum(n_tokens) OVER (
      PARTITION BY shard ORDER BY lane, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM sh
)
SELECT doc_id, shard, CAST(cum_before // 2048 AS INT) AS seq,
  CAST(cum_before % 2048 AS INT) AS tok_offset, CAST(n_tokens AS INT) AS n_tokens
FROM c"""

  /** Best-fit-decreasing whole-doc packing oracle (mirrors
    * graft.ops.TextAnalysis.packBestFit, budget=2048, shards=32): the BFD
    * placement replayed EXACTLY by a recursive CTE — per shard, docs in
    * (n DESC, doc_id) order; each step picks the max-load bin that still
    * fits (ties to the lowest index, encoded as load·10⁶ + (10⁶−1−i) so one
    * integer list_max is the whole argmax), else opens a new bin. */
  val textPackBestfit: String = {
    val sel = "list_max(list_transform(list_filter(range(len(f.loads)), " +
      "i -> f.loads[i+1] + o.n <= 2048), " +
      "i -> f.loads[i+1] * 1000000 + (999999 - i)))"
    s"""WITH RECURSIVE t AS (
  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n0,
    (${hexLaneOf("CAST(doc_id AS VARCHAR)", 1, 7)}) AS lane
  FROM documents
), sh AS (
  SELECT doc_id, least(n0, 2048) AS n, CAST(lane % 32 AS INT) AS shard FROM t
), ordered AS (
  SELECT shard, doc_id, n,
    CAST(row_number() OVER (PARTITION BY shard ORDER BY n DESC, doc_id) AS INT) AS rn
  FROM sh
), ffd AS (
  SELECT shard, 0 AS rn, CAST([] AS BIGINT[]) AS loads,
    CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS INT) AS bin,
    CAST(NULL AS BIGINT) AS tok_off, CAST(NULL AS BIGINT) AS n
  FROM (SELECT DISTINCT shard FROM ordered)
  UNION ALL
  SELECT o.shard, o.rn,
    CASE WHEN $sel IS NULL THEN list_append(f.loads, o.n)
      ELSE list_transform(range(len(f.loads)), i ->
        CASE WHEN i = 999999 - ($sel % 1000000) THEN f.loads[i+1] + o.n
             ELSE f.loads[i+1] END)
    END,
    o.doc_id,
    CAST(CASE WHEN $sel IS NULL THEN len(f.loads)
         ELSE 999999 - ($sel % 1000000) END AS INT),
    CAST(CASE WHEN $sel IS NULL THEN 0 ELSE $sel // 1000000 END AS BIGINT),
    o.n
  FROM ffd f JOIN ordered o ON o.shard = f.shard AND o.rn = f.rn + 1
)
SELECT doc_id, shard, bin AS seq, CAST(tok_off AS INT) AS tok_offset,
  CAST(n AS INT) AS n_tokens
FROM ffd WHERE doc_id IS NOT NULL"""
  }

  /** Stratified sample (mirrors graft.ops.TextAnalysis.stratifiedSample with
    * DefaultSampleRates, defaultPct=10; salted lane decorrelates from the
    * split lane). */
  val textSample: String = s"""SELECT doc_id, lang,
  ((${hexLaneOf("'sample:' || CAST(doc_id AS VARCHAR)", 1, 7)}) % 100) <
  (CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50 WHEN 'es' THEN 50 WHEN 'fr' THEN 25 ELSE 10 END) AS kept
FROM documents"""

  /** Exact per-language token-count quantiles (mirrors
    * graft.ops.TextAnalysis.corpusQuantiles; `quantile_cont` and Spark's
    * `percentile` share the linear-interpolation arithmetic bit-for-bit). */
  val corpusQuantiles: String = s"""SELECT lang,
  CAST(count(*) AS INT) AS n_docs,
  min(n) AS min_tokens,
  quantile_cont(n, 0.25) AS p25,
  quantile_cont(n, 0.5) AS p50,
  quantile_cont(n, 0.75) AS p75,
  quantile_cont(n, 0.95) AS p95,
  max(n) AS max_tokens
FROM (SELECT lang, CAST(len($toks) AS BIGINT) AS n FROM documents)
GROUP BY lang"""

  /** Duplicated-span detection oracle (mirrors graft.ops.TextAnalysis
    * .dupSpans, width=8): positional 8-gram postings, cross-doc duplicated
    * grams, start positions expanded by the width and de-duplicated. */
  val textDupSpans: String = s"""WITH t AS (
  SELECT doc_id, $toks AS tk FROM documents
), pgl AS (
  SELECT doc_id, len(tk) AS n,
    list_transform(range(1, greatest(len(tk) - 7, 0) + 1),
      i -> struct_pack(p := i,
             g := array_to_string(array_slice(tk, i, i + 7), ' '))) AS pgs
  FROM t
), post AS (
  SELECT doc_id, unnest(pgs, recursive := true) FROM pgl
), dupg AS (
  SELECT g FROM (SELECT DISTINCT doc_id, g FROM post)
  GROUP BY g HAVING count(*) >= 2
), starts AS (
  SELECT post.doc_id, post.p FROM post JOIN dupg USING (g)
), covered AS (
  SELECT DISTINCT doc_id, cp FROM (
    SELECT doc_id, unnest(range(p, p + 8)) AS cp FROM starts)
), agg AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_dup FROM covered GROUP BY doc_id
)
SELECT pgl.doc_id, CAST(pgl.n AS INT) AS n_tokens,
  coalesce(agg.n_dup, 0) AS n_dup_positions,
  CASE WHEN pgl.n = 0 THEN 0.0
       ELSE CAST(coalesce(agg.n_dup, 0) AS DOUBLE) / pgl.n END AS dup_frac
FROM pgl LEFT JOIN agg USING (doc_id)"""

  /** Bigram-LM quality-score oracle (mirrors
    * graft.ops.TextAnalysis.lmScore): corpus bigram / first-token counts,
    * per-occurrence P(w2|w1) = c(bigram)/c(w1-as-first), per-doc mean as
    * the engine's fixed-order fold (bigrams ordered by position, summed
    * sequentially from 0.0, divided by the count). */
  val textLmScore: String = s"""WITH t AS (
  SELECT doc_id, $toks AS tk FROM documents
), bg AS (
  SELECT doc_id, unnest(ps, recursive := true) FROM (
    SELECT doc_id, list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
      i -> struct_pack(p := i, bg := tk[i] || ' ' || tk[i + 1])) AS ps
    FROM t)
), cb AS (
  SELECT bg, count(*) AS cbg FROM bg GROUP BY bg
), cw AS (
  SELECT split_part(bg, ' ', 1) AS w1, count(*) AS cw1 FROM bg GROUP BY 1
), pr AS (
  SELECT b.doc_id, b.p, CAST(cb.cbg AS DOUBLE) / cw.cw1 AS pr
  FROM bg b JOIN cb USING (bg)
  JOIN cw ON split_part(b.bg, ' ', 1) = cw.w1
), agg AS (
  SELECT doc_id,
    list_reduce(list_prepend(0.0, list(pr ORDER BY p)), (a, b) -> a + b)
      / count(*) AS lm,
    CAST(count(*) AS INT) AS nb
  FROM pr GROUP BY doc_id
)
SELECT t.doc_id, coalesce(agg.lm, 0.0) AS lm_score,
  coalesce(agg.nb, 0) AS n_bigrams
FROM t LEFT JOIN agg USING (doc_id)"""

  /** Token-odds quality-classifier oracle (mirrors
    * graft.ops.TextAnalysis.qualityClassifier, seeds src0–3 vs src16–19):
    * seed-split token counts, add-one posterior centered on the corpus
    * prior, positional-order mean per doc — rational arithmetic
    * throughout, same ordered-fold shape as [[textLmScore]]. */
  val textQualityClassifier: String = s"""WITH base AS (
  SELECT doc_id, source, $toks AS tk FROM documents
), occ AS (
  SELECT doc_id, source, unnest(ps, recursive := true) FROM (
    SELECT doc_id, source, list_transform(range(1, len(tk) + 1),
      i -> struct_pack(p := i, tok := tk[i])) AS ps
    FROM base)
), counts AS (
  SELECT tok,
    sum(CASE WHEN source IN ('src0','src1','src2','src3') THEN 1 ELSE 0 END)
      AS cg,
    sum(CASE WHEN source IN ('src16','src17','src18','src19') THEN 1 ELSE 0 END)
      AS cb
  FROM occ
  WHERE source IN ('src0','src1','src2','src3',
    'src16','src17','src18','src19')
  GROUP BY tok
), tot AS (
  SELECT sum(cg) AS tcg, sum(cb) AS tcb FROM counts
), w AS (
  SELECT occ.doc_id, occ.p,
    coalesce(CAST(counts.cg + 1 AS DOUBLE) / (counts.cg + counts.cb + 2),
      0.5) - CAST(tot.tcg + 1 AS DOUBLE) / (tot.tcg + tot.tcb + 2) AS w
  FROM occ LEFT JOIN counts USING (tok), tot
), agg AS (
  SELECT doc_id,
    list_reduce(list_prepend(0.0, list(w ORDER BY p)), (a, b) -> a + b)
      / count(*) AS s,
    CAST(count(*) AS INT) AS n
  FROM w GROUP BY doc_id
)
SELECT d.doc_id, d.source, coalesce(agg.s, 0.0) AS nb_score,
  coalesce(agg.s, 0.0) > 0 AS nb_label, coalesce(agg.n, 0) AS n_tokens
FROM documents d LEFT JOIN agg USING (doc_id)"""

  /** C4-style chunk-removal oracle (mirrors
    * graft.ops.TextAnalysis.cleanChunks, width 8): 8-token non-overlapping
    * chunks; every distinct chunk text survives once corpus-wide at its
    * first (doc_id, chunk-index) occurrence; docs reassembled from
    * survivors. The oracle states the keep rule as a row_number window —
    * the engine's min-struct aggregation computes the same first
    * occurrence, skew-safely. */
  val textCleanChunks: String = s"""WITH t AS (
  SELECT doc_id, $toks AS tk FROM documents
), cl AS (
  SELECT doc_id, len(tk) AS n,
    list_transform(range(1, CAST(ceil(len(tk) / 8.0) AS BIGINT) + 1),
      i -> struct_pack(ci := i - 1,
             chunk := array_to_string(tk[(i - 1) * 8 + 1 : (i - 1) * 8 + 8], ' '))) AS cs
  FROM t
), ch AS (
  SELECT doc_id, unnest(cs, recursive := true) FROM cl
), kept AS (
  SELECT doc_id, ci, chunk FROM (
    SELECT doc_id, ci, chunk,
      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rn
    FROM ch) WHERE rn = 1
), agg AS (
  SELECT doc_id, string_agg(chunk, ' ' ORDER BY ci) AS cleaned,
    CAST(count(*) AS INT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT cl.doc_id, coalesce(agg.cleaned, '') AS cleaned_text,
  CAST(ceil(cl.n / 8.0) AS INT) AS n_chunks,
  coalesce(agg.n_kept, 0) AS n_kept
FROM cl LEFT JOIN agg USING (doc_id)"""

  /** BM25 retrieval oracle (mirrors graft.ops.TextAnalysis.searchBm25 for
    * terms [table, spark, window], k1=1.2, b=0.75, topK=10). Arithmetic is
    * written operation-for-operation as the engine computes it (incl.
    * `(1.2 + 1)` rather than the literal 2.2 — they are different doubles),
    * so scores are bit-identical. */
  /** The BM25 scored-docs CTE chain (base/stats/scored), shared by the
    * standalone oracle and the hybrid-RRF sparse side. */
  private def bm25ScoredCtes(terms: Seq[String]): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter($toks, x -> x = '$t')) AS tf$i"
    }.mkString(",\n    ")
    val dfAggs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n    ")
    val score = terms.indices.map(i =>
      s"((CAST(n AS DOUBLE) - df$i + 0.5) / (df$i + 0.5)) * " +
        s"(CAST(tf$i AS DOUBLE) * (1.2 + 1) / " +
        s"(tf$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n))))")
      .mkString("\n    + ")
    s"""base AS (
  SELECT doc_id, len($toks) AS dl,
    $tfCols
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(dl) AS sum_dl,
    $dfAggs
  FROM base
), scored AS (
  SELECT doc_id,
    $score AS score
  FROM base, stats
)"""
  }

  val searchBm25: String =
    s"""WITH ${bm25ScoredCtes(Seq("table", "spark", "window"))}
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
  doc_id, score
FROM scored WHERE score > 0
ORDER BY score DESC, doc_id LIMIT 10"""

  /** Hybrid RRF oracle (mirrors graft.ops.Similarity.hybridRrf for terms
    * [table, spark, window], queryVecId=0, nCand=50, kRrf=60, topK=10).
    * Ranks are integers, so the only float arithmetic is the two
    * CAST(1.0 AS DOUBLE)/(60+rank) divides summed sparse-then-dense —
    * bit-identical across engines (a bare `1.0/` would be a DuckDB DECIMAL
    * divide, which rounds differently from the engine's double). */
  val searchHybridRrf: String =
    s"""WITH ${bm25ScoredCtes(Seq("table", "spark", "window"))},
sparse AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS s_rank
  FROM scored WHERE score > 0
  ORDER BY score DESC, doc_id LIMIT 50
), e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), q AS (
  SELECT v AS qv, n2 AS qn2 FROM e WHERE vec_id = 0
), dcand AS (
  SELECT e.vec_id AS doc_id,
    list_dot_product(q.qv, e.v) / sqrt(q.qn2 * e.n2) AS cosine
  FROM e, q WHERE e.vec_id <> 0
  ORDER BY cosine DESC, doc_id LIMIT 50
), dense AS (
  SELECT doc_id,
    CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT) AS d_rank
  FROM dcand
), fused AS (
  SELECT doc_id, s_rank, d_rank,
    coalesce(CAST(1.0 AS DOUBLE) / (60 + s_rank), 0.0)
      + coalesce(CAST(1.0 AS DOUBLE) / (60 + d_rank), 0.0) AS rrf
  FROM sparse FULL JOIN dense USING (doc_id)
)
SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank,
  doc_id, s_rank, d_rank, rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT 10"""

  /** Stride-chunking oracle (mirrors graft.ops.TextAnalysis.chunkWithStride,
    * window=32, stride=16). `range(0, n, 16)` is exactly the engine's
    * `sequence(0, n-1, 16)` for n > 0; chunk_idx = off/16 is exact (off is
    * a multiple of 16), so the only engine-sensitive piece is list_slice's
    * end-inclusive clamp == slice's length clamp. */
  val textChunk: String = s"""WITH t AS (
  SELECT doc_id, $toks AS tk FROM documents
), o AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 16)) AS off
  FROM t WHERE len(tk) > 0
)
SELECT doc_id, CAST(off / 16 AS INT) AS chunk_idx,
  CAST(len(list_slice(tk, off + 1, off + 32)) AS INT) AS n_tokens,
  array_to_string(list_slice(tk, off + 1, off + 32), ' ') AS chunk_text
FROM o"""

  /** Uniform-share data mixing oracle (mirrors graft.ops.TextAnalysis
    * .mixToShares with no explicit shares). */
  val textMix: String = textMixOver("documents")

  private def textMixOver(src: String): String = s"""WITH perdoc AS (
  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens FROM $src
), bysrc AS (
  SELECT source, sum(n_tokens) AS src_tokens FROM perdoc GROUP BY source
), tot AS (
  SELECT sum(src_tokens) AS total_tokens, CAST(count(*) AS BIGINT) AS n_sources
  FROM bysrc
), rates AS (
  SELECT source,
    CASE WHEN src_tokens = 0 THEN 0.0 ELSE
      least(1.0, (1.0 / n_sources) * CAST(total_tokens AS DOUBLE) / src_tokens)
    END AS rate
  FROM bysrc, tot
)
SELECT p.doc_id, p.source, p.n_tokens, r.rate,
  ((${hexLaneOf("'mix:' || CAST(doc_id AS VARCHAR)", 1, 7)}) % 1000000)
    < CAST(floor(r.rate * 1000000) AS BIGINT) AS kept
FROM perdoc p JOIN rates r USING (source)"""

  /** Explicit-recipe mixing oracle (mirrors the text_mix_recipe query:
    * share of srcN = (N%4 + 1)/50, written as the same CAST-to-double
    * division the engine computes so the rate doubles are bit-identical). */
  val textMixRecipe: String = {
    val shareCase = (0 until 20).map(i =>
      s"WHEN source = 'src$i' THEN CAST(${i % 4 + 1} AS DOUBLE) / CAST(50 AS DOUBLE)")
      .mkString("\n      ")
    s"""WITH perdoc AS (
  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents
), bysrc AS (
  SELECT source, sum(n_tokens) AS src_tokens FROM perdoc GROUP BY source
), tot AS (
  SELECT sum(src_tokens) AS total_tokens FROM bysrc
), rates AS (
  SELECT source,
    CASE WHEN src_tokens = 0 THEN 0.0 ELSE
      least(1.0, (CASE
        $shareCase
        ELSE 0.0 END) * CAST(total_tokens AS DOUBLE) / src_tokens)
    END AS rate
  FROM bysrc, tot
)
SELECT p.doc_id, p.source, p.n_tokens, r.rate,
  ((${hexLaneOf("'mix:' || CAST(doc_id AS VARCHAR)", 1, 7)}) % 1000000)
    < CAST(floor(r.rate * 1000000) AS BIGINT) AS kept
FROM perdoc p JOIN rates r USING (source)"""
  }

  /** Temperature-based source sampling oracle (mirrors
    * graft.ops.TextAnalysis.mixTemperature, α=0.5): √-token weights summed in
    * a FIXED order (sources sorted by name — the engine's sorted-struct fold),
    * rate = min(1, (√tokensₛ / Σ√) · total / tokensₛ); sqrt is correctly
    * rounded in both engines so the per-million floor stays integer-exact. */
  val textMixTemperature: String = s"""WITH perdoc AS (
  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents
), bysrc AS (
  SELECT source, sum(n_tokens) AS src_tokens FROM perdoc GROUP BY source
), tot AS (
  SELECT
    list_reduce(list_prepend(0.0,
      list(sqrt(CAST(src_tokens AS DOUBLE)) ORDER BY source)),
      (x, y) -> x + y) AS sum_w,
    CAST(sum(src_tokens) AS BIGINT) AS total_tokens
  FROM bysrc
), rates AS (
  SELECT source,
    CASE WHEN src_tokens = 0 THEN 0.0 ELSE
      least(1.0, sqrt(CAST(src_tokens AS DOUBLE)) / sum_w
        * CAST(total_tokens AS DOUBLE) / src_tokens)
    END AS rate
  FROM bysrc, tot
)
SELECT p.doc_id, p.source, p.n_tokens, r.rate,
  ((${hexLaneOf("'tmix:' || CAST(doc_id AS VARCHAR)", 1, 7)}) % 1000000)
    < CAST(floor(r.rate * 1000000) AS BIGINT) AS kept
FROM perdoc p JOIN rates r USING (source)"""

  /** Temperature EPOCHS-schedule oracle (mirrors
    * graft.ops.TextAnalysis.mixTemperatureEpochs, α=0.5, maxEpochs=100):
    * the √-token-share rate capped at 100 epochs, n_copies = ⌊rate⌋ + the
    * per-million `epoch:` lane coin on frac(rate), one row per emitted
    * copy. */
  val textMixEpochs: String = s"""WITH perdoc AS (
  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents
), bysrc AS (
  SELECT source, sum(n_tokens) AS src_tokens FROM perdoc GROUP BY source
), tot AS (
  SELECT
    list_reduce(list_prepend(0.0,
      list(sqrt(CAST(src_tokens AS DOUBLE)) ORDER BY source)),
      (x, y) -> x + y) AS sum_w,
    CAST(sum(src_tokens) AS BIGINT) AS total_tokens
  FROM bysrc
), rates AS (
  SELECT source,
    CASE WHEN src_tokens = 0 THEN 0.0 ELSE
      least(100.0, sqrt(CAST(src_tokens AS DOUBLE)) / sum_w
        * CAST(total_tokens AS DOUBLE) / src_tokens)
    END AS rate
  FROM bysrc, tot
), pc AS (
  SELECT p.doc_id, p.source, p.n_tokens, r.rate,
    CAST(floor(r.rate) AS BIGINT) +
      CASE WHEN ((${hexLaneOf("'epoch:' || CAST(doc_id AS VARCHAR)", 1, 7)})
          % 1000000)
        < CAST(floor((r.rate - floor(r.rate)) * 1000000) AS BIGINT)
      THEN 1 ELSE 0 END AS n_copies
  FROM perdoc p JOIN rates r USING (source)
)
SELECT doc_id, source, n_tokens, rate, n_copies,
  CAST(unnest(generate_series(1, CAST(n_copies AS INT))) AS BIGINT) AS copy
FROM pc WHERE n_copies >= 1"""

  /** Per-doc (doc_id, source, quality) chain shared by the top-frac oracle —
    * the [[quality]] arithmetic with `source` carried through. */
  private def qualityScoreOver(src: String): String =
    s"""qt AS (SELECT doc_id, source, text, $toks AS tk FROM $src),
qq AS (SELECT doc_id, source,
  CAST(length(text) AS INT) AS n_chars,
  CAST(len(tk) AS INT) AS n_tokens,
  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS INT) AS alpha,
  CAST(len(list_filter(tk, x -> list_contains(${stopList("en")}, x))) AS INT) AS stops,
  CAST(list_sum(list_transform(tk, x -> length(x))) AS INT) AS tok_chars
FROM qt),
qs AS (SELECT doc_id, source,
  (CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(stops AS DOUBLE) / n_tokens END) * 0.4 + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(tok_chars AS DOUBLE) / n_tokens END) / 10.0, 1.0) * 0.3 + (CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(alpha AS DOUBLE) / n_chars END) * 0.3 AS quality
FROM qq)"""

  /** Per-source top-fraction quality selection oracle (mirrors
    * graft.ops.TextAnalysis.qualityTopFrac, keepFrac=0.3, buckets=10⁶):
    * quantized score histogram per source, keep every bucket whose
    * cumulative-from-top count starts below ⌊0.3·nₛ⌋. */
  val textQualityTopFrac: String = textQualityTopFracOver("documents")

  private def textQualityTopFracOver(src: String): String =
    s"""WITH ${qualityScoreOver(src)},
scored AS (
  SELECT doc_id, source, quality,
    coalesce(CAST(floor(quality * 1000000) AS BIGINT), -1) AS qb
  FROM qs
), hist AS (
  SELECT source, qb, count(*) AS cnt FROM scored GROUP BY source, qb
), nsrc AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM scored GROUP BY source
), cum AS (
  SELECT source, qb,
    coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY qb DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM hist
), thr AS (
  SELECT c.source, min(c.qb) AS thr_qb
  FROM cum c JOIN nsrc n ON c.source = n.source
  WHERE c.cum_prev < CAST(floor(0.3 * CAST(n.n_src AS DOUBLE)) AS BIGINT)
  GROUP BY c.source
)
SELECT s.doc_id, s.source, s.quality,
  s.qb >= coalesce(t.thr_qb, 9223372036854775807) AS kept
FROM scored s LEFT JOIN thr t ON s.source = t.source"""

  /** Gopher-rule filter oracle (mirrors graft.ops.TextAnalysis.gopherRules
    * defaults: words in [30,90], mean word length in [3,10], symbol ratio
    * <= 0.1, alpha-word fraction >= 0.8, >= 2 hits on the 8-word Gopher
    * stop list). Zero-token docs pin ratios to 0.0 on both sides. */
  val textGopher: String = textGopherOver("documents")

  private def textGopherOver(src: String): String = {
    val gopherStops = graft.ops.TextAnalysis.GopherStops
      .map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM $src),
g AS (SELECT doc_id,
  CAST(len(tk) AS INT) AS n_words,
  CAST(list_sum(list_transform(tk, x -> length(x))) AS INT) AS tok_chars,
  (length(text) - length(regexp_replace(text, '#', '', 'g')))
    + (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3
    AS symbols,
  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS INT) AS alpha_words,
  CAST(len(list_filter(tk, x -> list_contains($gopherStops, x))) AS INT) AS n_stop_hits
FROM t),
s AS (SELECT doc_id, n_words,
  CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(tok_chars AS DOUBLE) / n_words END AS mean_word_len,
  CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(symbols AS DOUBLE) / n_words END AS symbol_ratio,
  CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(alpha_words AS DOUBLE) / n_words END AS alpha_word_frac,
  n_stop_hits
FROM g)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac, n_stop_hits,
  n_words >= 30 AND n_words <= 90 AS r_word_count,
  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_mean_len,
  symbol_ratio <= 0.1 AS r_symbol,
  alpha_word_frac >= 0.8 AS r_alpha,
  n_stop_hits >= 2 AS r_stopwords,
  (n_words >= 30 AND n_words <= 90) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
    AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8 AND n_stop_hits >= 2 AS kept
FROM s"""
  }

  /** CCNet-style per-source head/middle/tail oracle (mirrors
    * graft.ops.TextAnalysis.ccnetBuckets, buckets=10⁶): the lm_score
    * tertile cut stated with the same quantized histogram so the bucket
    * decision is integer-exact in both engines. */
  val textCcnetBuckets: String = s"""WITH lm AS (SELECT * FROM ($textLmScore)),
scored AS (
  SELECT d.doc_id, d.source, lm.lm_score,
    coalesce(CAST(floor(lm.lm_score * 1000000) AS BIGINT), -1) AS qb
  FROM lm JOIN documents d USING (doc_id)
), hist AS (
  SELECT source, qb, count(*) AS cnt FROM scored GROUP BY source, qb
), nsrc AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM scored GROUP BY source
), cum AS (
  SELECT source, qb,
    coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY qb DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM hist
), j AS (
  SELECT c.source, c.qb, c.cum_prev, n.n_src
  FROM cum c JOIN nsrc n ON c.source = n.source
), th AS (
  SELECT source, min(qb) AS thr_head FROM j
  WHERE cum_prev < CAST(floor(n_src / 3.0) AS BIGINT) GROUP BY source
), tm AS (
  SELECT source, min(qb) AS thr_mid FROM j
  WHERE cum_prev < CAST(floor(n_src * 2.0 / 3.0) AS BIGINT) GROUP BY source
)
SELECT s.doc_id, s.source, s.lm_score,
  CASE WHEN s.qb >= coalesce(th.thr_head, 9223372036854775807) THEN 'head'
       WHEN s.qb >= coalesce(tm.thr_mid, 9223372036854775807) THEN 'middle'
       ELSE 'tail' END AS bucket
FROM scored s
LEFT JOIN th ON s.source = th.source
LEFT JOIN tm ON s.source = tm.source"""

  /** Per-source exact-duplication report oracle (mirrors
    * graft.ops.Dedup.dupRateBySource): per-(source, text-digest) counts,
    * then per-source totals. */
  val corpusDupRate: String = """WITH pd AS (
  SELECT source, md5(text) AS h, count(*) AS c FROM documents GROUP BY source, h
)
SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_unique,
  CAST(sum(c) - count(*) AS BIGINT) AS n_dup_docs,
  CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS dup_rate
FROM pd GROUP BY source"""

  /** DSIR importance-weight oracle (mirrors
    * graft.ops.TextAnalysis.dsirWeights, target = source 'src0', m = 4096,
    * minWeight 1.0): unigram+bigram features hashed to md5-lane buckets,
    * Laplace-smoothed target/raw bucket counts from one conditional pass,
    * per-doc weight = position-ordered PRODUCT of bucket ratios (the
    * multiply/divide-only arithmetic that stays bit-identical across
    * engines; ln would not). */
  val corpusDsir: String = s"""WITH t AS (
  SELECT doc_id, (source = 'src0') AS is_t, $toks AS tk FROM documents
), fl AS (
  SELECT doc_id, is_t, list_concat(tk, ${gramsExpr(2)}) AS fs FROM t
), f AS (
  SELECT doc_id, is_t, unnest(ps, recursive := true) FROM (
    SELECT doc_id, is_t,
      list_transform(range(1, len(fs) + 1),
        i -> struct_pack(p := i, g := fs[i])) AS ps
    FROM fl)
), fb AS (
  SELECT doc_id, is_t, p, (${hexLaneOf("g", 1, 7)}) % 4096 AS b FROM f
), bc AS (
  SELECT b,
    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tb,
    sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS rb
  FROM fb GROUP BY b
), tot AS (
  SELECT sum(tb) AS tt, sum(rb) AS rt FROM bc
), ratio AS (
  SELECT b,
    CAST(tb + 1 AS DOUBLE) * CAST(rt + 4096 AS DOUBLE)
      / (CAST(rb + 1 AS DOUBLE) * CAST(tt + 4096 AS DOUBLE)) AS r
  FROM bc, tot
), agg AS (
  SELECT doc_id,
    list_reduce(list_prepend(1.0, list(r ORDER BY p)), (a, x) -> a * x) AS w,
    CAST(count(*) AS INT) AS nf
  FROM fb JOIN ratio USING (b) GROUP BY doc_id
)
SELECT t.doc_id, coalesce(agg.w, 1.0) AS weight,
  coalesce(agg.nf, 0) AS n_features,
  coalesce(agg.w, 1.0) >= 1.0 AS kept
FROM t LEFT JOIN agg USING (doc_id)"""

  /** BPE merge-training oracle (mirrors graft.ops.TextAnalysis.bpeMerges,
    * merges = 10): 10 UNROLLED rounds, each a materialized
    * pair-count → argmax (count DESC, pair ASC — the engine's negated-count
    * min-struct) → leftmost-greedy rewrite; the rewrite fold runs on a
    * STRING accumulator because DuckDB's list_reduce pins the accumulator
    * to the element type, and mirrors the engine's substr-boundary
    * arithmetic character for character. */
  val textBpeMerges: String = {
    val k = 10
    val out = (1 to k)
      .map(r => s"SELECT $r AS merge_rank, pr AS pair, c AS n_occurrences FROM b$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeChain(k)}
SELECT CAST(merge_rank AS INT) AS merge_rank, pair, n_occurrences FROM (
  $out)"""
  }

  /** The trainer's shared CTE chain (vs1 + 10 rounds) without a final
    * select, reused by [[textBpeMerges]] and [[textBpeEncode]]. */
  private def bpeChain(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""pc$r AS MATERIALIZED (
  SELECT pr, CAST(sum(cnt) AS BIGINT) AS c FROM (
    SELECT unnest(list_transform(range(1, greatest(len(sl) - 1, 0) + 1),
      j -> sl[j] || ' ' || sl[j + 1])) AS pr, cnt
    FROM (SELECT string_split(s, ' ') AS sl, cnt FROM vs$r))
  GROUP BY pr
), b$r AS MATERIALIZED (
  SELECT pr, c, split_part(pr, ' ', 1) AS pa, split_part(pr, ' ', 2) AS pb
  FROM pc$r ORDER BY c DESC, pr LIMIT 1
), vs${r + 1} AS MATERIALIZED (
  SELECT cnt, list_reduce(list_prepend('', string_split(s, ' ')),
    (acc, x) -> CASE
      WHEN acc = '' THEN x
      WHEN x = b.pb AND acc = b.pa THEN b.pa || b.pb
      WHEN x = b.pb AND length(acc) > length(b.pa)
        AND substr(acc, length(acc) - length(b.pa), length(b.pa) + 1)
          = ' ' || b.pa
        THEN substr(acc, 1, length(acc) - length(b.pa)) || b.pa || b.pb
      ELSE acc || ' ' || x END) AS s
  FROM vs$r, b$r b
)"""
    }.mkString(", ")
    s"""vs1 AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS cnt,
    array_to_string(list_append(list_transform(range(1, length(w) + 1),
      i -> w[i]), '</w>'), ' ') AS s
  FROM (SELECT unnest($toks) AS w FROM documents) GROUP BY w
), $rounds"""
  }

  /** BPE-encode oracle (mirrors graft.ops.TextAnalysis.bpeEncode over a
    * fresh 10-merge training: the text_bpe_merges chain, the rank-ordered
    * merge list collapsed to one row, then a nested list_reduce replays the
    * merges per token — inner fold identical to the trainer's rewrite. */
  /** The per-token replay CTEs (`ml`, `tokd`, `enc`) shared by
    * [[textBpeEncode]] and [[textPackBpe]]. */
  private def bpeEncodeCte(k: Int): String = {
    val out = (1 to k)
      .map(r => s"SELECT $r AS merge_rank, pr FROM b$r")
      .mkString("\n  UNION ALL ")
    s"""ml AS MATERIALIZED (
  SELECT list(pr ORDER BY merge_rank) AS ms FROM (
  $out)
), tokd AS (
  SELECT doc_id, unnest(ps, recursive := true) FROM (
    SELECT doc_id, list_transform(range(1, len(tk) + 1),
      i -> struct_pack(p := i, w := tk[i])) AS ps
    FROM (SELECT doc_id, $toks AS tk FROM documents))
), enc AS (
  SELECT doc_id, p,
    list_reduce(list_prepend(
      array_to_string(list_append(list_transform(range(1, length(w) + 1),
        i -> w[i]), '</w>'), ' '), ml.ms),
      (acc, m) -> list_reduce(list_prepend('', string_split(acc, ' ')),
        (a, x) -> CASE
          WHEN a = '' THEN x
          WHEN x = split_part(m, ' ', 2) AND a = split_part(m, ' ', 1)
            THEN split_part(m, ' ', 1) || split_part(m, ' ', 2)
          WHEN x = split_part(m, ' ', 2)
            AND length(a) > length(split_part(m, ' ', 1))
            AND substr(a, length(a) - length(split_part(m, ' ', 1)),
                  length(split_part(m, ' ', 1)) + 1)
              = ' ' || split_part(m, ' ', 1)
            THEN substr(a, 1, length(a) - length(split_part(m, ' ', 1)))
              || split_part(m, ' ', 1) || split_part(m, ' ', 2)
          ELSE a || ' ' || x END)) AS sub
  FROM tokd, ml
)"""
  }

  /** BPE-encode oracle (mirrors graft.ops.TextAnalysis.bpeEncode over a
    * fresh 10-merge training): the trainer chain, then the per-token
    * nested-list_reduce replay and per-doc reassembly. */
  val textBpeEncode: String = {
    val k = 10
    s"""WITH ${bpeChain(k)}, ${bpeEncodeCte(k)}, agg AS (
  SELECT doc_id, string_agg(sub, ' ' ORDER BY p) AS bpe_text,
    CAST(sum(len(string_split(sub, ' '))) AS INT) AS n_subwords
  FROM enc GROUP BY doc_id
)
SELECT d.doc_id, coalesce(agg.bpe_text, '') AS bpe_text,
  coalesce(agg.n_subwords, 0) AS n_subwords
FROM documents d LEFT JOIN agg USING (doc_id)"""
  }

  /** Pack-by-subword-counts oracle (mirrors
    * graft.ops.TextAnalysis.packByCounts over bpeEncode's n_subwords):
    * the BPE replay chain feeding the [[textPack]] layout with the TRUE
    * sequence lengths. */
  val textPackBpe: String = {
    val k = 10
    s"""WITH ${bpeChain(k)}, ${bpeEncodeCte(k)}, aggd AS (
  SELECT doc_id, CAST(sum(len(string_split(sub, ' '))) AS BIGINT) AS n_sub
  FROM enc GROUP BY doc_id
), t AS (
  SELECT d.doc_id, coalesce(aggd.n_sub, 0) AS n_tokens,
    (${hexLaneOf("CAST(d.doc_id AS VARCHAR)", 1, 7)}) AS lane
  FROM documents d LEFT JOIN aggd USING (doc_id)
), sh AS (
  SELECT *, CAST(lane % 32 AS INT) AS shard FROM t
), c AS (
  SELECT *, coalesce(sum(n_tokens) OVER (
      PARTITION BY shard ORDER BY lane, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM sh
)
SELECT doc_id, shard, CAST(cum_before // 2048 AS INT) AS seq,
  CAST(cum_before % 2048 AS INT) AS tok_offset, CAST(n_tokens AS INT) AS n_tokens
FROM c"""
  }

  /** Top-K bigram statistics oracle (mirrors
    * graft.ops.TextAnalysis.topNgrams, width=2, topK=200, minCount=2). */
  val textNgrams: String = s"""WITH t AS (
  SELECT doc_id, $toks AS tk FROM documents
), g AS (
  SELECT doc_id, unnest(${gramsExpr(2)}) AS gram FROM t
), pd AS (
  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
), cnt AS (
  SELECT gram, CAST(sum(c) AS BIGINT) AS n_occurrences,
    CAST(count(*) AS BIGINT) AS df
  FROM pd GROUP BY gram HAVING CAST(sum(c) AS BIGINT) >= 2
), ranked AS (
  SELECT gram, n_occurrences, df,
    row_number() OVER (ORDER BY n_occurrences DESC, gram) AS rank
  FROM cnt
)
SELECT CAST(rank AS INT) AS rank, gram, n_occurrences, df FROM ranked
WHERE rank <= 200"""

  val dedupExact: String = """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
  CAST(count(*) AS INT) AS n_copies
FROM documents GROUP BY md5(text)"""

  /** Shared digest projection oracle (mirrors graft.ops.Dedup.fingerprints):
    * byte-exact + cleaning-tier digests in one scan. */
  val dedupFingerprints: String = """SELECT doc_id, md5(text) AS text_hash,
  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
    ' +', ' ', 'g'))) AS norm_hash
FROM documents"""

  /** Normalized-exact oracle (mirrors graft.ops.Dedup.exactNormalized):
    * lower → non-alphanumerics to spaces → collapse runs → trim → md5. */
  val dedupExactNorm: String = """WITH n AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      ' +', ' ', 'g')) AS nt
  FROM documents
)
SELECT md5(nt) AS norm_hash, min(doc_id) AS keep_id,
  CAST(count(*) AS INT) AS n_copies
FROM n GROUP BY md5(nt)"""

  private val K = 32
  private val Bands = 8

  /** Hex lane of md5(e) chars [off, off+chars) as an integer — the one
    * definition behind every md5-derived value the oracles mirror
    * (minhash/simhash lanes, band keys, hyperplane components, hash splits):
    * mirrors the engine's conv(substring(md5(x), off, chars), 16, 10).
    * Multipliers past int32 are cast so DuckDB promotes to BIGINT. */
  private def hexLaneOf(e: String, off: Int, chars: Int): String =
    (0 until chars).map { p =>
      val mult = 1L << (4 * (chars - 1 - p))
      val multExpr = if (mult > Int.MaxValue) s"CAST($mult AS BIGINT)" else mult.toString
      s"(position(substr(md5($e), ${off + p}, 1) IN '0123456789abcdef') - 1) * $multExpr"
    }.mkString(" + ")

  /** 28-bit lane of md5(tok) hex chars [off, off+7). */
  private def hexLane(off: Int): String = hexLaneOf("tok", off, 7)

  private val minhashAggs: String = (0 until K)
    .map(s => s"min((h1 + $s * h2) % ${graft.ops.Dedup.MinhashPrime}) AS mh$s")
    .mkString(",\n  ")
  private val bandCols: String = (0 until Bands).map { b =>
    val parts = (b * (K / Bands) until (b + 1) * (K / Bands)).map(i => s"mh$i").mkString(", ")
    s"${hexLaneOf(s"concat_ws(':', $parts)", 1, 15)} AS band$b"
  }.mkString(",\n  ")
  private val bandJoins: String = (0 until Bands).map { b =>
    s"SELECT l.doc_id AS a, r.doc_id AS b FROM banded l JOIN banded r ON l.band$b = r.band$b AND l.doc_id < r.doc_id"
  }.mkString("\n    UNION ALL\n    ")

  /** MinHash-LSH pair CTE chain against an arbitrary source relation (used
    * standalone over `documents` and over the exact-dedup representatives in
    * [[dedupPipeline]]), with a pluggable tokenize expression mirroring the
    * engine's Tokenizer seam. The final SELECT yields (a, b, jaccard). */
  private def minhashLshSql(src: String, srcToks: String = toks): String = s"""WITH dtoks AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest($srcToks) AS tok FROM $src
), th AS MATERIALIZED (
  SELECT doc_id, ${hexLane(1)} AS h1, ${hexLane(9)} AS h2 FROM dtoks
), sig AS MATERIALIZED (
  SELECT doc_id, $minhashAggs
  FROM th GROUP BY doc_id
), banded AS MATERIALIZED (
  SELECT doc_id, $bandCols FROM sig
), cand AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    $bandJoins)
), tsets AS MATERIALIZED (
  SELECT doc_id,
    list_sort(list_distinct(list_transform($srcToks, tok -> ${hexLane(1)}))) AS tks
  FROM $src
)
SELECT c.a, c.b,
  CAST(len(list_intersect(sa.tks, sb.tks)) AS DOUBLE)
    / (len(sa.tks) + len(sb.tks) - len(list_intersect(sa.tks, sb.tks))) AS jaccard
FROM cand c JOIN tsets sa ON sa.doc_id = c.a JOIN tsets sb ON sb.doc_id = c.b
WHERE CAST(len(list_intersect(sa.tks, sb.tks)) AS DOUBLE)
    / (len(sa.tks) + len(sb.tks) - len(list_intersect(sa.tks, sb.tks))) >= 0.8"""

  val minhashLsh: String = minhashLshSql("documents")

  /** Cross-source overlap matrix (mirrors graft.ops.Dedup.sourceOverlap):
    * verified minhash-LSH pairs enriched with each side's source, source
    * pair canonicalized least/greatest, counted. */
  val corpusOverlap: String = s"""SELECT
  least(da.source, db.source) AS source_a,
  greatest(da.source, db.source) AS source_b,
  count(*) AS n_pairs
FROM ( ${minhashLshSql("documents")} ) p
JOIN documents da ON da.doc_id = p.a
JOIN documents db ON db.doc_id = p.b
GROUP BY 1, 2"""

  /** [[minhashLsh]] under the BPE-ish tokenizer — pins the engine's
    * pluggable Tokenizer seam at the oracle gate (mirrors
    * graft.ops.Tokenizer.BpeIsh: alphanumeric runs or single non-space
    * symbols via regexp_extract_all). */
  val minhashBpe: String = minhashLshSql("documents",
    s"regexp_extract_all(text, '${graft.ops.TextAnalysis.BpeRegex}')")

  /** End-to-end dedup pipeline (mirrors graft.ops.Dedup.dedupPipeline):
    * exact groups → representatives → minhash-LSH pairs over reps →
    * transitive closure → every doc labeled with its rep's cluster. */
  val dedupPipeline: String = s"""WITH RECURSIVE grp AS MATERIALIZED (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
  FROM documents
), rdocs AS MATERIALIZED (
  SELECT d.* FROM documents d JOIN grp g ON d.doc_id = g.doc_id
  WHERE g.doc_id = g.rep_id
), pairs AS MATERIALIZED (
  ${minhashLshSql("rdocs")}
), edges AS MATERIALIZED (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM rdocs
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
), rcl AS (
  SELECT src AS rep_id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT g.doc_id, rcl.cluster_id, (g.doc_id = rcl.cluster_id) AS is_canonical
FROM grp g JOIN rcl ON rcl.rep_id = g.rep_id"""

  /** Composed corpus-prep oracle (mirrors graft.ops.Prep.prepCorpus):
    * dedup-canonical → quality ≥ 0.40 → uniform-share mix → split + pack,
    * each stage's SQL the same fragment as its standalone oracle, re-rooted
    * on the previous stage's survivors. */
  val prepCorpus: String = s"""WITH pipe AS MATERIALIZED (
  SELECT * FROM ($dedupPipeline)
), canon AS MATERIALIZED (
  SELECT d.* FROM documents d JOIN pipe USING (doc_id) WHERE pipe.is_canonical
), qual AS MATERIALIZED (
  SELECT doc_id FROM (${qualityOver("canon")}) WHERE quality >= 0.40
), qualified AS MATERIALIZED (
  SELECT c.* FROM canon c JOIN qual USING (doc_id)
), mixk AS MATERIALIZED (
  SELECT doc_id FROM (${textMixOver("qualified")}) WHERE kept
), mixed AS MATERIALIZED (
  SELECT q.* FROM qualified q JOIN mixk USING (doc_id)
), packed AS MATERIALIZED (
  SELECT * FROM (${textPackOver("mixed")})
), sp AS MATERIALIZED (
  ${textSplitOver("mixed")}
)
SELECT packed.doc_id, sp.split, packed.shard, packed.seq,
  packed.tok_offset, packed.n_tokens
FROM packed JOIN sp USING (doc_id)"""

  /** FineWeb-shaped composed prep oracle (mirrors
    * graft.ops.Prep.prepFineWeb, keepFrac=0.3): Gopher rules → normalized-
    * exact canonicals → per-source top-30% quality → split + pack, each
    * stage re-rooted on the previous stage's survivors. */
  val prepFineweb: String = s"""WITH gph AS MATERIALIZED (
  SELECT doc_id FROM (${textGopherOver("documents")}) WHERE kept
), g AS MATERIALIZED (
  SELECT d.* FROM documents d JOIN gph USING (doc_id)
), nrm AS MATERIALIZED (
  SELECT doc_id,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      ' +', ' ', 'g'))) AS nh
  FROM g
), ncanon AS MATERIALIZED (
  SELECT min(doc_id) AS doc_id FROM nrm GROUP BY nh
), canon AS MATERIALIZED (
  SELECT g.* FROM g JOIN ncanon USING (doc_id)
), tfk AS MATERIALIZED (
  SELECT doc_id FROM (${textQualityTopFracOver("canon")}) WHERE kept
), selected AS MATERIALIZED (
  SELECT c.* FROM canon c JOIN tfk USING (doc_id)
), packed AS MATERIALIZED (
  SELECT * FROM (${textPackOver("selected")})
), sp AS MATERIALIZED (
  ${textSplitOver("selected")}
)
SELECT packed.doc_id, sp.split, packed.shard, packed.seq,
  packed.tok_offset, packed.n_tokens
FROM packed JOIN sp USING (doc_id)"""

  /** 56-bit simhash planes (mirrors graft.ops.Dedup.simhash): bits 0-27 from
    * the h1 lane (md5 hex chars 1-7), bits 28-55 from h2 (chars 9-15). */
  private val planeSums: String = (0 until graft.ops.Dedup.SimhashBits).map { j =>
    val (lane, sh) = if (j < 28) ("h1", j) else ("h2", j - 28)
    s"sum(CASE WHEN ($lane >> $sh) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
  }.mkString(",\n  ")
  private val fpSum: String = (0 until graft.ops.Dedup.SimhashBits)
    .map(j => s"CASE WHEN s$j >= 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")

  private val simhashCte: String = s"""WITH toksall AS MATERIALIZED (
  SELECT doc_id, unnest($toks) AS tok FROM documents
), tv AS (
  SELECT doc_id, ${hexLane(1)} AS h1, ${hexLane(9)} AS h2 FROM toksall
), planes AS MATERIALIZED (
  SELECT doc_id, $planeSums FROM tv GROUP BY doc_id
), fp AS MATERIALIZED (
  SELECT doc_id, CAST($fpSum AS BIGINT) AS simhash FROM planes
)"""

  val simhash: String = simhashCte + "\nSELECT doc_id, simhash FROM fp"

  val simhashPairs: String = simhashCte + """
SELECT l.doc_id AS a, r.doc_id AS b,
  CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
FROM fp l JOIN fp r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= 3"""

  /** Edit-distance-verified near-dup (mirrors graft.ops.Dedup
    * .editDistancePairs: simhash candidates, Levenshtein verify,
    * ratio <= 0.4). */
  val dedupEdit: String = simhashCte + """
, sp AS (
  SELECT l.doc_id AS a, r.doc_id AS b FROM fp l JOIN fp r ON l.doc_id < r.doc_id
  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
)
SELECT sp.a, sp.b,
  CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist,
  CAST(levenshtein(da.text, db.text) AS DOUBLE)
    / greatest(length(da.text), length(db.text)) AS edit_ratio
FROM sp JOIN documents da ON da.doc_id = sp.a
        JOIN documents db ON db.doc_id = sp.b
WHERE CAST(levenshtein(da.text, db.text) AS DOUBLE)
    / greatest(length(da.text), length(db.text)) <= 0.4"""

  /** The minhash banded + token-set CTE family over `src`, all CTE names
    * prefixed with `p` so two corpora can coexist in one query (the
    * incremental-dedup oracle builds one family per side). */
  private def bandedCtes(src: String, p: String): String = s"""${p}dtoks AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest($toks) AS tok FROM $src
), ${p}th AS MATERIALIZED (
  SELECT doc_id, ${hexLane(1)} AS h1, ${hexLane(9)} AS h2 FROM ${p}dtoks
), ${p}sig AS MATERIALIZED (
  SELECT doc_id, $minhashAggs
  FROM ${p}th GROUP BY doc_id
), ${p}banded AS MATERIALIZED (
  SELECT doc_id, $bandCols FROM ${p}sig
), ${p}tsets AS MATERIALIZED (
  SELECT doc_id,
    list_sort(list_distinct(list_transform($toks, tok -> ${hexLane(1)}))) AS tks
  FROM $src
)"""

  private val incrBandJoins: String = (0 until Bands).map { b =>
    s"SELECT b.doc_id AS bd, h.doc_id AS hd FROM bbanded b JOIN hbanded h ON b.band$b = h.band$b"
  }.mkString("\n    UNION ALL\n    ")

  /** Incremental dedup oracle (mirrors graft.ops.Dedup.incremental over the
    * doc_id % 5 batch/history split): exact digest tier wins over the
    * minhash near tier; each tier contributes its minimum history doc_id. */
  val dedupIncremental: String = s"""WITH hist AS MATERIALIZED (
  SELECT * FROM documents WHERE doc_id % 5 <> 0
), bat AS MATERIALIZED (
  SELECT * FROM documents WHERE doc_id % 5 = 0
), ${bandedCtes("hist", "h")},
${bandedCtes("bat", "b")},
ex AS MATERIALIZED (
  SELECT b.doc_id, min(h.doc_id) AS exact_id
  FROM bat b JOIN hist h ON md5(h.text) = md5(b.text)
  GROUP BY b.doc_id
), cand AS MATERIALIZED (
  SELECT DISTINCT bd, hd FROM (
    $incrBandJoins)
), nr AS MATERIALIZED (
  SELECT c.bd AS doc_id, min(c.hd) AS near_id
  FROM cand c JOIN btsets sb ON sb.doc_id = c.bd
              JOIN htsets sh ON sh.doc_id = c.hd
  WHERE CAST(len(list_intersect(sh.tks, sb.tks)) AS DOUBLE)
    / (len(sh.tks) + len(sb.tks) - len(list_intersect(sh.tks, sb.tks))) >= 0.8
  GROUP BY c.bd
)
SELECT b.doc_id, coalesce(ex.exact_id, nr.near_id) AS dup_of,
  CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
       WHEN nr.near_id IS NOT NULL THEN 'near' END AS dup_kind,
  (ex.exact_id IS NULL AND nr.near_id IS NULL) AS is_new
FROM bat b LEFT JOIN ex ON ex.doc_id = b.doc_id
           LEFT JOIN nr ON nr.doc_id = b.doc_id"""

  /** Three-tier incremental oracle (mirrors the dedup_incremental_emb
    * query: exact digest > minhash near > sign-LSH embedding near at
    * t=0.45, over the doc_id % 5 batch/history split; embeddings keyed by
    * vec_id = doc_id). */
  val dedupIncrementalEmb: String =
    dedupIncrementalEmbFor(c => s"$c % 5 <> 0", c => s"$c % 5 = 0")

  /** [[dedupIncrementalEmb]] for the APPENDED index fixture: history′ =
    * build history (`%5 != 0`) plus the appended `%10 == 5` batch, i.e.
    * `%10 != 0`; probe batch `%10 == 0`. The engine must earn these rows
    * through the real parquet append; the oracle states the
    * history′-vs-batch answer directly (exact by the min-preservation
    * argument on graft.ops.Dedup.appendToIndex). */
  val dedupIndexAppend: String =
    dedupIncrementalEmbFor(c => s"$c % 10 <> 0", c => s"$c % 10 = 0")

  /** The 3-tier incremental oracle over parameterized history/batch
    * predicates (each a SQL condition builder applied to a doc_id
    * column reference). */
  private def dedupIncrementalEmbFor(histCond: String => String,
      batCond: String => String): String = {
    val (r, b) = graft.ops.Similarity.lshParams(0.45)
    s"""WITH ${hyperplaneCte(r * b)}, hist AS MATERIALIZED (
  SELECT * FROM documents WHERE ${histCond("doc_id")}
), bat AS MATERIALIZED (
  SELECT * FROM documents WHERE ${batCond("doc_id")}
), ${bandedCtes("hist", "h")},
${bandedCtes("bat", "b")},
ex AS MATERIALIZED (
  SELECT b.doc_id, min(h.doc_id) AS exact_id
  FROM bat b JOIN hist h ON md5(h.text) = md5(b.text)
  GROUP BY b.doc_id
), cand AS MATERIALIZED (
  SELECT DISTINCT bd, hd FROM (
    $incrBandJoins)
), nr AS MATERIALIZED (
  SELECT c.bd AS doc_id, min(c.hd) AS near_id
  FROM cand c JOIN btsets sb ON sb.doc_id = c.bd
              JOIN htsets sh ON sh.doc_id = c.hd
  WHERE CAST(len(list_intersect(sh.tks, sb.tks)) AS DOUBLE)
    / (len(sh.tks) + len(sb.tks) - len(list_intersect(sh.tks, sb.tks))) >= 0.8
  GROUP BY c.bd
), ee AS MATERIALIZED (
  SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), edots AS MATERIALIZED (
  SELECT ee.doc_id, hp.h, sum(hp.v * ee.v[hp.d + 1]) AS dp
  FROM ee, hp GROUP BY ee.doc_id, hp.h
), esigs AS MATERIALIZED (
  SELECT doc_id, h // $r AS band,
    sum(CASE WHEN dp >= 0 THEN 1::BIGINT << (h % $r) ELSE 0 END) AS key
  FROM edots GROUP BY doc_id, h // $r
), ecand AS MATERIALIZED (
  SELECT DISTINCT bb.doc_id AS bd, hh.doc_id AS hd
  FROM esigs bb JOIN esigs hh ON bb.band = hh.band AND bb.key = hh.key
  WHERE ${batCond("bb.doc_id")} AND ${histCond("hh.doc_id")}
), em AS MATERIALIZED (
  SELECT c.bd AS doc_id, min(c.hd) AS emb_id
  FROM ecand c JOIN ee be ON be.doc_id = c.bd
               JOIN ee he ON he.doc_id = c.hd
  WHERE list_dot_product(be.v, he.v) / sqrt(be.n2 * he.n2) >= 0.45
  GROUP BY c.bd
)
SELECT b.doc_id, coalesce(ex.exact_id, nr.near_id, em.emb_id) AS dup_of,
  CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
       WHEN nr.near_id IS NOT NULL THEN 'near'
       WHEN em.emb_id IS NOT NULL THEN 'emb' END AS dup_kind,
  (ex.exact_id IS NULL AND nr.near_id IS NULL AND em.emb_id IS NULL) AS is_new
FROM bat b LEFT JOIN ex ON ex.doc_id = b.doc_id
           LEFT JOIN nr ON nr.doc_id = b.doc_id
           LEFT JOIN em ON em.doc_id = b.doc_id"""
  }

  val ngramJaccard: String = s"""WITH t AS (
  SELECT doc_id, $toks AS tk FROM documents
), sets AS (
  SELECT doc_id,
    list_sort(list_distinct(list_transform($bigramsExpr, tok -> ${hexLane(1)}))) AS bgs
  FROM t
), postings AS (
  SELECT doc_id, unnest(bgs) AS b FROM sets
), rare AS (
  SELECT b FROM postings GROUP BY b HAVING count(*) <= 200
), rp AS (
  SELECT p.doc_id, p.b FROM postings p JOIN rare r ON p.b = r.b
), cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM rp l JOIN rp r ON l.b = r.b AND l.doc_id < r.doc_id
)
SELECT c.a, c.b,
  CAST(len(list_intersect(sa.bgs, sb.bgs)) AS DOUBLE)
    / (len(sa.bgs) + len(sb.bgs) - len(list_intersect(sa.bgs, sb.bgs))) AS jaccard
FROM cand c JOIN sets sa ON sa.doc_id = c.a JOIN sets sb ON sb.doc_id = c.b
WHERE CAST(len(list_intersect(sa.bgs, sb.bgs)) AS DOUBLE)
    / (len(sa.bgs) + len(sb.bgs) - len(list_intersect(sa.bgs, sb.bgs))) >= 0.3"""

  /** Hyperplane CTE shared by the sign-LSH oracles: component (h, d) derived
    * from md5("h:d") exactly as graft.ops.Similarity.hyperplane. */
  private def hyperplaneCte(bits: Int): String =
    s"""hp AS (
  SELECT h.h AS h, d.d AS d,
    ((${hexLaneOf("h.h || ':' || d.d", 1, 4)}) - 32768) / CAST(32768.0 AS DOUBLE) AS v
  FROM generate_series(0, ${bits - 1}) h(h),
       generate_series(0, 63) d(d)
)"""

  /** Banded sign-LSH near-dup oracle (mirrors graft.ops.Similarity
    * .nearDupPairs at the given threshold): per-band keys pack the signs of
    * hyperplanes [band·r, (band+1)·r) exactly as SignBandKeys; candidates =
    * DISTINCT pairs sharing any (band, key), then exact-cosine verified. */
  def embeddingNearDup(threshold: Double): String = {
    val (r, b) = graft.ops.Similarity.lshParams(threshold)
    s"""WITH ${hyperplaneCte(r * b)}, e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), dots AS (
  SELECT e.vec_id, hp.h, sum(hp.v * e.v[hp.d + 1]) AS dp
  FROM e, hp GROUP BY e.vec_id, hp.h
), sigs AS (
  SELECT vec_id, h // $r AS band,
    sum(CASE WHEN dp >= 0 THEN 1::BIGINT << (h % $r) ELSE 0 END) AS key
  FROM dots GROUP BY vec_id, h // $r
), cand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM sigs l JOIN sigs r
    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id
)
SELECT c.a, c.b,
  list_dot_product(le.v, re.v) / sqrt(le.n2 * re.n2) AS cosine
FROM cand c
JOIN e le ON le.vec_id = c.a
JOIN e re ON re.vec_id = c.b
WHERE list_dot_product(le.v, re.v) / sqrt(le.n2 * re.n2) >= $threshold"""
  }

  /** Radius-search oracle (mirrors graft.ops.Similarity.rangeSearch at the
    * given threshold): corpus band signatures exactly as
    * [[embeddingNearDup]], candidates = DISTINCT (query, neighbor) sharing
    * any (band, key) with a query vector (vec_id % 100 = 0, self excluded),
    * exact-cosine verified at the threshold. */
  def annRange(threshold: Double): String = {
    val (r, b) = graft.ops.Similarity.lshParams(threshold)
    s"""WITH ${hyperplaneCte(r * b)}, e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), dots AS (
  SELECT e.vec_id, hp.h, sum(hp.v * e.v[hp.d + 1]) AS dp
  FROM e, hp GROUP BY e.vec_id, hp.h
), sigs AS (
  SELECT vec_id, h // $r AS band,
    sum(CASE WHEN dp >= 0 THEN 1::BIGINT << (h % $r) ELSE 0 END) AS key
  FROM dots GROUP BY vec_id, h // $r
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sigs c JOIN sigs q
    ON c.band = q.band AND c.key = q.key
    AND q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
)
SELECT cd.query_id, cd.neighbor_id,
  list_dot_product(qe.v, ne.v) / sqrt(qe.n2 * ne.n2) AS cosine
FROM cand cd
JOIN e qe ON qe.vec_id = cd.query_id
JOIN e ne ON ne.vec_id = cd.neighbor_id
WHERE list_dot_product(qe.v, ne.v) / sqrt(qe.n2 * ne.n2) >= $threshold"""
  }

  val annTopK: String = s"""WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), q AS (
  SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id % 100 = 0
), scored AS (
  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
    list_dot_product(q.qv, e.v) / sqrt(q.qn2 * e.n2) AS cosine
  FROM e JOIN q ON e.vec_id <> q.qid
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM ranked WHERE rank <= 5"""

  /** Hard-negative mining oracle (mirrors
    * graft.ops.Similarity.hardNegatives, k=5): the exact top-6 per query,
    * rank 1 as the positive, ranks 2..6 re-ranked 1..5 as negatives. */
  val searchHardNegatives: String = s"""WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), q AS (
  SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id % 100 = 0
), scored AS (
  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
    list_dot_product(q.qv, e.v) / sqrt(q.qn2 * e.n2) AS cosine
  FROM e JOIN q ON e.vec_id <> q.qid
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
), pos AS (
  SELECT query_id, neighbor_id AS positive_id FROM ranked WHERE rank = 1
)
SELECT r.query_id, p.positive_id, CAST(r.rank - 1 AS INT) AS neg_rank,
  r.neighbor_id, r.cosine
FROM ranked r JOIN pos p USING (query_id) WHERE r.rank BETWEEN 2 AND 6"""

  /** Snapshot-diff oracle (mirrors graft.ops.Dedup.snapshotDiff with
    * old = doc_id % 10 <> 3, new = doc_id % 10 <> 7 — two deterministic
    * overlapping snapshot views of the documents table). */
  val corpusSnapshotDiff: String = """WITH o AS (
  SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS c
  FROM documents WHERE doc_id % 10 <> 3 GROUP BY md5(text)
), n AS (
  SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS c
  FROM documents WHERE doc_id % 10 <> 7 GROUP BY md5(text)
)
SELECT coalesce(o.h, n.h) AS text_hash,
  CASE WHEN o.h IS NULL THEN 'added' WHEN n.h IS NULL THEN 'removed'
       WHEN o.c = n.c THEN 'unchanged' ELSE 'changed' END AS status,
  coalesce(o.c, 0) AS n_old,
  coalesce(n.c, 0) AS n_new
FROM o FULL JOIN n ON o.h = n.h"""

  /** Real-IVF oracle (mirrors graft.ops.Similarity.ivfTopK): sampled
    * centroids (vec_id % stride = residue), nearest-centroid cell
    * assignment, nprobe=2 probe cells per query. */
  /** Semantic-dedup oracle (mirrors graft.ops.Similarity.semanticDedup,
    * threshold 0.45, lloydIters = 2): stride-sampled codebook, two Lloyd
    * refinement steps (assignment + per-(cell, dim) mean), final cell
    * assignment, exact within-cell cosine pairs, recursive-CTE connected
    * components, canonical = component min. The Lloyd mean mirrors the
    * engine's TWO-LEVEL fixed-order fold bit-for-bit (the bounded-buffer
    * shape of graft.ops.Similarity.lloydStep): members sorted by vec_id are
    * split into LloydChunk-row chunks, each chunk folds sequentially from
    * 0.0 (`list_reduce(list_prepend(0.0, ...))` == Spark
    * `aggregate(..., lit(0.0), _ + _)`), chunk partials fold in chunk order,
    * divided by the member count. */
  /** Nearest-centroid assignment against codebook `cTab` -> (vec_id, cell)
    * — shared by the semantic-dedup oracle family. */
  private def assignSql(cTab: String, out: String,
      eTab: String = "e"): String = s"""$out AS MATERIALIZED (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY list_dot_product(e.v, c.cv) / sqrt(e.n2 * c.cn2) DESC, c.cid) AS rn
    FROM $eTab e, $cTab c) WHERE rn = 1
)"""

  /** One Lloyd mean: assignment `aTab` -> refined codebook `out`, via the
    * engine's two-level chunked fold (chunk = LloydChunk members by vec_id
    * rank; inner fold per chunk, outer fold over chunk partials). */
  private def meansSql(aTab: String, out: String,
      eTab: String = "e"): String = {
    val chunk = graft.ops.Similarity.LloydChunk
    s"""${out}_r AS (
  SELECT a.cell, e.vec_id, e.v,
    CAST((row_number() OVER (PARTITION BY a.cell ORDER BY e.vec_id) - 1)
      // $chunk AS INT) AS ck
  FROM $aTab a JOIN $eTab e ON e.vec_id = a.vec_id
), ${out}_p AS (
  SELECT cell, ck, t.i,
    list_reduce(list_prepend(0.0, list(v[t.i + 1] ORDER BY vec_id)),
      (x, y) -> x + y) AS ps,
    count(*) AS cnt
  FROM ${out}_r, range(64) t(i)
  GROUP BY cell, ck, t.i
), ${out}_m AS (
  SELECT cell, i,
    list_reduce(list_prepend(0.0, list(ps ORDER BY ck)), (x, y) -> x + y)
      / CAST(sum(cnt) AS BIGINT) AS m
  FROM ${out}_p GROUP BY cell, i
), ${out}_v AS (
  SELECT cell AS cid, list(m ORDER BY i) AS cv FROM ${out}_m GROUP BY cell
), $out AS MATERIALIZED (
  SELECT cid, cv, list_dot_product(cv, cv) AS cn2 FROM ${out}_v
)"""
  }

  /** The Lloyd-2 cell chain of the semantic oracles: stride-sampled
    * codebook, two refinement steps, final assignment into `cell`. */
  private def semanticCellChain(eTab: String = "e",
      sfx: String = ""): String = {
    val (stride, residue) =
      (graft.ops.Similarity.IvfCentroidStride, graft.ops.Similarity.IvfCentroidResidue)
    s"""c0$sfx AS MATERIALIZED (
  SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM $eTab WHERE vec_id % $stride = $residue
  ORDER BY vec_id LIMIT ${graft.ops.Similarity.IvfMaxCells}
), ${assignSql(s"c0$sfx", s"a0$sfx", eTab)}, ${meansSql(s"a0$sfx", s"c1$sfx", eTab)},
${assignSql(s"c1$sfx", s"a1$sfx", eTab)}, ${meansSql(s"a1$sfx", s"c2$sfx", eTab)},
${assignSql(s"c2$sfx", s"cell$sfx", eTab)}"""
  }

  /** Within-cell exact-cosine pairs over the `cell` assignment (>= 0.45),
    * the quadratic SemDeDup stage. */
  private val withinCellPairsSql: String = """SELECT le.vec_id AS a, re.vec_id AS b
  FROM e le JOIN cell lc ON le.vec_id = lc.vec_id
       JOIN cell rc ON lc.cell = rc.cell
       JOIN e re ON re.vec_id = rc.vec_id AND le.vec_id < re.vec_id
  WHERE list_dot_product(le.v, re.v) / sqrt(le.n2 * re.n2) >= 0.45"""

  private val componentsCte: String = """edges AS MATERIALIZED (SELECT a, b FROM prs UNION ALL SELECT b AS a, a AS b FROM prs),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT r.src, ed.b FROM reach r JOIN edges ed ON r.dst = ed.a
), comp AS MATERIALIZED (
  SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src
)"""

  private val componentsSql: String = componentsCte +
    "\nSELECT vec_id, cluster_id, (vec_id = cluster_id) AS is_canonical FROM comp"

  val dedupSemantic: String = s"""WITH RECURSIVE e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), ${semanticCellChain()}, prs AS MATERIALIZED (
  $withinCellPairsSql
), $componentsSql"""

  /** Semantic dedup COMPOSED with the banded-LSH tier (mirrors
    * graft.ops.Similarity.semanticDedupFull, threshold 0.45, lloydIters=2):
    * pair graph = within-cell exact pairs UNION banded sign-LSH candidates
    * verified at the same threshold (the cross-cell recovery), components
    * over the merged graph. */
  val dedupSemanticFull: String = {
    val (r, b) = graft.ops.Similarity.lshParams(0.45)
    s"""WITH RECURSIVE ${hyperplaneCte(r * b)}, e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), ${semanticCellChain()}, ldots AS (
  SELECT e.vec_id, hp.h, sum(hp.v * e.v[hp.d + 1]) AS dp
  FROM e, hp GROUP BY e.vec_id, hp.h
), lsigs AS (
  SELECT vec_id, h // $r AS band,
    sum(CASE WHEN dp >= 0 THEN 1::BIGINT << (h % $r) ELSE 0 END) AS key
  FROM ldots GROUP BY vec_id, h // $r
), lcand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM lsigs l JOIN lsigs r
    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id
), lshp AS (
  SELECT c.a, c.b FROM lcand c
  JOIN e le ON le.vec_id = c.a
  JOIN e re ON re.vec_id = c.b
  WHERE list_dot_product(le.v, re.v) / sqrt(le.n2 * re.n2) >= 0.45
), prs AS (
  $withinCellPairsSql
  UNION
  SELECT a, b FROM lshp
), $componentsSql"""
  }

  /** K-means summary oracle (mirrors graft.ops.Similarity.kmeansSummary,
    * lloydIters = 2): the semantic Lloyd-2 cell chain, then per-cell member
    * count and inertia. ‖x−c‖² composes as `n2 − 2·x·c + cn2` (the engine's
    * operation order) and the per-cell sum mirrors the engine's TWO-LEVEL
    * chunked fixed-order fold exactly as [[dedupSemantic]]'s Lloyd mean
    * (LloydChunk members by vec_id rank; inner fold per chunk, outer fold
    * over chunk partials in chunk order). */
  val embKmeans: String = {
    val chunk = graft.ops.Similarity.LloydChunk
    s"""WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), ${semanticCellChain()}, k_r AS (
  SELECT a.cell, e.vec_id,
    e.n2 - 2.0 * list_dot_product(e.v, c.cv) + c.cn2 AS d2,
    CAST((row_number() OVER (PARTITION BY a.cell ORDER BY e.vec_id) - 1)
      // $chunk AS INT) AS ck
  FROM cell a JOIN e ON e.vec_id = a.vec_id JOIN c2 c ON c.cid = a.cell
), k_p AS (
  SELECT cell, ck,
    list_reduce(list_prepend(0.0, list(d2 ORDER BY vec_id)), (x, y) -> x + y)
      AS ps,
    count(*) AS cnt
  FROM k_r GROUP BY cell, ck
)
SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_members,
  list_reduce(list_prepend(0.0, list(ps ORDER BY ck)), (x, y) -> x + y)
    AS inertia
FROM k_p GROUP BY cell"""
  }

  /** Cluster-vs-label purity oracle (mirrors
    * graft.ops.Similarity.clusterPurity, lloydIters=2): the Lloyd-2 cell
    * chain, a (cell, label) contingency count, majority label per cell with
    * the (count desc, label) tie-break. */
  val embPurity: String = s"""WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), ${semanticCellChain()}, cont AS (
  SELECT c.cell, emb.label, count(*) AS cnt
  FROM cell c JOIN embeddings emb ON c.vec_id = emb.vec_id
  GROUP BY c.cell, emb.label
), tot AS (
  SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_members FROM cont GROUP BY cell
), top AS (
  SELECT cell, label, cnt FROM (
    SELECT cell, label, cnt,
      row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, label) AS rn
    FROM cont) WHERE rn = 1
)
SELECT top.cell, tot.n_members, CAST(top.label AS INT) AS top_label,
  CAST(top.cnt AS BIGINT) AS top_count,
  CAST(top.cnt AS DOUBLE) / tot.n_members AS purity
FROM top JOIN tot ON top.cell = tot.cell"""

  /** Per-cell prototypicality score + top-`dropFrac` histogram cut, shared
    * by the diversity oracles (mirrors the bucket-granularity tier of
    * graft.ops.Similarity.diversityPrune: proto = cosine to the Lloyd-2
    * centroid, qb = floor(proto·10⁶), drop every bucket whose
    * cumulative-from-top count starts below ⌊0.3·n_cell⌋). */
  private def protoCutSql(sfx: String, eTab: String): String =
    s"""pr$sfx AS (
  SELECT a.vec_id, a.cell,
    CASE WHEN e.n2 * c.cn2 = 0 THEN 0.0
      ELSE list_dot_product(e.v, c.cv) / sqrt(e.n2 * c.cn2) END AS proto
  FROM cell$sfx a JOIN $eTab e ON e.vec_id = a.vec_id
    JOIN c2$sfx c ON c.cid = a.cell
), scored$sfx AS MATERIALIZED (
  SELECT vec_id, cell, proto,
    CAST(floor(proto * 1000000) AS BIGINT) AS qb
  FROM pr$sfx
), hist$sfx AS (
  SELECT cell, qb, count(*) AS cnt FROM scored$sfx GROUP BY cell, qb
), ncell$sfx AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_cell FROM scored$sfx GROUP BY cell
), cum$sfx AS (
  SELECT cell, qb,
    coalesce(sum(cnt) OVER (PARTITION BY cell ORDER BY qb DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM hist$sfx
), thr$sfx AS (
  SELECT c.cell, min(c.qb) AS thr_qb
  FROM cum$sfx c JOIN ncell$sfx n ON c.cell = n.cell
  WHERE c.cum_prev < CAST(floor(0.3 * CAST(n.n_cell AS DOUBLE)) AS BIGINT)
  GROUP BY c.cell
)"""

  /** Diversity-pruning oracle (mirrors graft.ops.Similarity.diversityPrune,
    * dropFrac=0.3, lloydIters=2): the semantic Lloyd-2 cell chain, cosine
    * to the own-cell centroid, per-cell quantized-histogram cut. */
  val embDiversity: String = s"""WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), ${semanticCellChain()}, ${protoCutSql("", "e")}
SELECT s.vec_id, s.cell, s.proto,
  s.qb < coalesce(t.thr_qb, 9223372036854775807) AS kept
FROM scored s LEFT JOIN thr t ON s.cell = t.cell"""

  /** Composed D4-pipeline oracle (mirrors graft.ops.Similarity.prepD4,
    * threshold 0.45, dropFrac 0.3, lloydIters 2): the full
    * [[dedupSemanticFull]] component chain, then a SECOND Lloyd-2 cell
    * chain over the canonical survivors (suffix `b`) feeding the
    * prototypicality cut; non-canonicals carry null proto / kept=false. */
  val prepD4: String = {
    val (r, b) = graft.ops.Similarity.lshParams(0.45)
    s"""WITH RECURSIVE ${hyperplaneCte(r * b)}, e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), ${semanticCellChain()}, ldots AS (
  SELECT e.vec_id, hp.h, sum(hp.v * e.v[hp.d + 1]) AS dp
  FROM e, hp GROUP BY e.vec_id, hp.h
), lsigs AS (
  SELECT vec_id, h // $r AS band,
    sum(CASE WHEN dp >= 0 THEN 1::BIGINT << (h % $r) ELSE 0 END) AS key
  FROM ldots GROUP BY vec_id, h // $r
), lcand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM lsigs l JOIN lsigs r
    ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id
), lshp AS (
  SELECT c.a, c.b FROM lcand c
  JOIN e le ON le.vec_id = c.a
  JOIN e re ON re.vec_id = c.b
  WHERE list_dot_product(le.v, re.v) / sqrt(le.n2 * re.n2) >= 0.45
), prs AS MATERIALIZED (
  $withinCellPairsSql
  UNION
  SELECT a, b FROM lshp
), $componentsCte, e2 AS MATERIALIZED (
  SELECT e.vec_id, e.v, e.n2 FROM e
  JOIN comp ON e.vec_id = comp.vec_id AND comp.vec_id = comp.cluster_id
), ${semanticCellChain("e2", "b")}, ${protoCutSql("b", "e2")}
SELECT comp.vec_id, comp.cluster_id,
  (comp.vec_id = comp.cluster_id) AS is_canonical, s.proto,
  coalesce(s.qb < coalesce(t.thr_qb, 9223372036854775807), false) AS kept
FROM comp LEFT JOIN scoredb s ON comp.vec_id = s.vec_id
LEFT JOIN thrb t ON s.cell = t.cell"""
  }

  val annIvf: String = {
    val (stride, residue) =
      (graft.ops.Similarity.IvfCentroidStride, graft.ops.Similarity.IvfCentroidResidue)
    s"""WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), c AS (
  SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM e WHERE vec_id % $stride = $residue
  ORDER BY vec_id LIMIT ${graft.ops.Similarity.IvfMaxCells}
), assign AS (
  SELECT e.vec_id, c.cid,
    list_dot_product(e.v, c.cv) / sqrt(e.n2 * c.cn2) AS cs
  FROM e, c
), cell AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
    FROM assign) WHERE rn = 1
), q AS (
  SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE vec_id % 100 = 0
), probes AS (
  SELECT qid, cid AS cell FROM (
    SELECT q.qid, c.cid,
      row_number() OVER (PARTITION BY q.qid
        ORDER BY list_dot_product(q.qv, c.cv) / sqrt(q.qn2 * c.cn2) DESC, c.cid) AS pr
    FROM q, c) WHERE pr <= 2
), scored AS (
  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
    list_dot_product(q.qv, e.v) / sqrt(q.qn2 * e.n2) AS cosine
  FROM e
  JOIN cell ON e.vec_id = cell.vec_id
  JOIN probes ON cell.cell = probes.cell
  JOIN q ON q.qid = probes.qid AND e.vec_id <> q.qid
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM ranked WHERE rank <= 3"""
  }

  /** Connected-component cluster assignment over the SimHash near-dup pair
    * graph (mirrors graft.ops.Dedup.clusters): cluster_id = min doc_id
    * reachable; reachability via a recursive CTE. */
  val dedupClusters: String = s"""WITH RECURSIVE pairs AS ($simhashPairs),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
verts AS (SELECT doc_id AS v FROM documents),
reach(src, dst) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, min(dst) AS cluster_id,
  (src = min(dst)) AS is_canonical
FROM reach GROUP BY src"""

  /** Random-hyperplane LSH ANN oracle: hyperplane components derived from
    * md5("h:d") exactly as graft.ops.Similarity.hyperplane (shared
    * [[hyperplaneCte]], one definition for all sign-LSH oracles). */
  /** Multi-table RP-LSH oracle (mirrors graft.ops.Similarity
    * .rpLshMultiTableTopK): table t's bucket packs the signs of hyperplanes
    * [t·r, (t+1)·r); candidates = DISTINCT (query, neighbor) sharing any
    * table's bucket, ranked by exact cosine. */
  val annLshMultiTable: String = {
    val (tables, r) =
      (graft.ops.Similarity.LshTables, graft.ops.Similarity.LshBitsPerTable)
    s"""WITH ${hyperplaneCte(tables * r)}, e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), dots AS (
  SELECT e.vec_id, hp.h, sum(hp.v * e.v[hp.d + 1]) AS dp
  FROM e, hp GROUP BY e.vec_id, hp.h
), buckets AS (
  SELECT vec_id, h // $r AS tbl,
    sum(CASE WHEN dp >= 0 THEN 1::BIGINT << (h % $r) ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id, h // $r
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets c
  JOIN buckets q ON c.tbl = q.tbl AND c.bucket = q.bucket
    AND c.vec_id <> q.vec_id AND q.vec_id % 100 = 0
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
    list_dot_product(qe.v, ne.v) / sqrt(qe.n2 * ne.n2) AS cosine
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ne ON ne.vec_id = cand.neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM ranked WHERE rank <= 3"""
  }

  val annLsh: String = s"""WITH ${hyperplaneCte(graft.ops.Similarity.LshBits)}, e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), dots AS (
  SELECT e.vec_id, hp.h, sum(hp.v * e.v[hp.d + 1]) AS dp
  FROM e, hp GROUP BY e.vec_id, hp.h
), buckets AS (
  SELECT vec_id, CAST(sum(CASE WHEN dp >= 0 THEN 1 << h ELSE 0 END) AS INT) AS bucket
  FROM dots GROUP BY vec_id
), q AS (
  SELECT e.vec_id AS qid, e.v AS qv, e.n2 AS qn2, b.bucket AS qb
  FROM e JOIN buckets b ON e.vec_id = b.vec_id WHERE e.vec_id % 100 = 0
), scored AS (
  SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
    list_dot_product(q.qv, e.v) / sqrt(q.qn2 * e.n2) AS cosine
  FROM e JOIN buckets b ON e.vec_id = b.vec_id
  JOIN q ON b.bucket = q.qb AND e.vec_id <> q.qid
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM ranked WHERE rank <= 3"""

  /** Multi-probe RP-LSH oracle: probe set = own bucket + the LshBits
    * one-bit-flip buckets (mirrors graft.ops.Similarity.rpLshMultiProbeTopK;
    * g = -1 encodes the unflipped probe). */
  val annLshMultiProbe: String = s"""WITH ${hyperplaneCte(graft.ops.Similarity.LshBits)}, e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings
), dots AS (
  SELECT e.vec_id, hp.h, sum(hp.v * e.v[hp.d + 1]) AS dp
  FROM e, hp GROUP BY e.vec_id, hp.h
), buckets AS (
  SELECT vec_id, CAST(sum(CASE WHEN dp >= 0 THEN 1 << h ELSE 0 END) AS INT) AS bucket
  FROM dots GROUP BY vec_id
), q AS (
  SELECT e.vec_id AS qid, e.v AS qv, e.n2 AS qn2, b.bucket AS qb
  FROM e JOIN buckets b ON e.vec_id = b.vec_id WHERE e.vec_id % 100 = 0
), probes AS (
  SELECT q.qid, q.qv, q.qn2,
    CASE WHEN g.g = -1 THEN q.qb ELSE xor(q.qb, 1 << g.g) END AS pbucket
  FROM q, generate_series(-1, ${graft.ops.Similarity.LshBits - 1}) g(g)
), scored AS (
  SELECT p.qid AS query_id, e.vec_id AS neighbor_id,
    list_dot_product(p.qv, e.v) / sqrt(p.qn2 * e.n2) AS cosine
  FROM e JOIN buckets b ON e.vec_id = b.vec_id
  JOIN probes p ON b.bucket = p.pbucket AND e.vec_id <> p.qid
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine FROM ranked WHERE rank <= 3"""

  /** Stub-path metadata (the gate's text payloads decode as neither image,
    * audio, nor MP4 — real_decode is constant false here; the real decode
    * paths are pinned by OpsSpec over generated PNG/WAV/MP4 bytes). */
  val mmMeta: String = """SELECT CAST(doc_id AS BIGINT) AS doc_id,
  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CAST(octet_length(encode(text)) % 640 AS INT) AS width,
  CAST((doc_id * 7) % 480 AS INT) AS height,
  octet_length(encode(text)) / CAST(1000.0 AS DOUBLE) AS duration_s,
  md5(text) AS checksum,
  false AS real_decode
FROM documents"""

  /** Image payload stub resize (mirrors graft.ops.Multimodal.resizeImages,
    * target 224): gather 224 evenly-spaced bytes, floor(i*n/224). */
  val mmResize: String = """WITH i AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 0
), r AS (
  SELECT doc_id, n,
    CASE WHEN n <= 224 THEN text
    ELSE array_to_string(list_transform(range(224),
      x -> substr(text, CAST((x * n) // 224 AS INT) + 1, 1)), '') END AS resized
  FROM i
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, 224 AS width, 224 AS height,
  CAST(octet_length(encode(resized)) AS INT) AS n_bytes, md5(resized) AS checksum
FROM r"""

  /** Perceptual-hash CTE shared by the two phash oracles (mirrors
    * graft.ops.Multimodal.imagePhash's STUB path — the gate's text payloads
    * are not decodable images, so the grid is the evenly-spaced byte gather;
    * the real-decode path is pinned by OpsSpec over generated PNGs). 7×9
    * luma grid, bit r·8+c set iff grid[r·9+c] > grid[r·9+c+1]; powers
    * assembled with BIGINT shifts. */
  private val phashCte: String = """WITH i AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 0
), g AS (
  SELECT doc_id, n,
    list_transform(range(63), x -> CASE WHEN n = 0 THEN 0
      ELSE ascii(substr(text, CAST((x * n) // 63 AS INT) + 1, 1)) END) AS grid
  FROM i
), h AS (
  SELECT doc_id,
    CAST(coalesce(list_sum(flatten(list_transform(range(7), r ->
      list_transform(range(8), c ->
        CASE WHEN grid[r * 9 + c + 1] > grid[r * 9 + c + 2]
          THEN CAST(1 AS BIGINT) << (r * 8 + c) ELSE CAST(0 AS BIGINT)
        END)))), 0) AS BIGINT) AS phash
  FROM g
)"""

  val mmPhash: String = phashCte + """
SELECT doc_id, phash, false AS real_decode FROM h"""

  val mmPhashPairs: String = phashCte + """
SELECT l.doc_id AS a, r.doc_id AS b,
  CAST(bit_count(xor(l.phash, r.phash)) AS INT) AS hamming
FROM h l JOIN h r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.phash, r.phash)) <= 3"""

  /** Audio payload stub features (mirrors graft.ops.Multimodal.audioFeatures):
    * f_j = sum of bytes at 0-indexed positions ≡ j mod 8, over length. */
  val mmFeatures: String = {
    val fs = (0 until 8).map { j =>
      s"""CAST(coalesce(list_sum(list_transform(generate_series(${j + 1}, n, 8),
      p -> ascii(substr(text, CAST(p AS INT), 1)))), 0) AS DOUBLE)
    / CAST(greatest(n, 1) AS DOUBLE) AS f$j"""
    }.mkString(",\n  ")
    s"""WITH a AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  $fs,
  CAST(0.0 AS DOUBLE) AS sample_rate, 0 AS channels,
  CAST(0.0 AS DOUBLE) AS duration_s, false AS real_decode
FROM a"""
  }

  /** Video payload frame sampling: stride-100 byte slices (documents text is
    * ASCII, so byte offsets = char offsets). */
  val mmFrameSample: String = """WITH v AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
), f AS (
  SELECT doc_id, g.i AS frame_idx,
    substr(text, g.i * 100 + 1, 100) AS frame
  FROM v, generate_series(0, 99) g(i)
  WHERE g.i * 100 < octet_length(encode(text))
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(frame_idx AS INT) AS frame_idx,
  CAST(octet_length(encode(frame)) AS INT) AS n_bytes, md5(frame) AS checksum
FROM f"""

  val qRollup: String = """SELECT l_returnflag, l_linestatus,
  CAST(count(*) AS INT) AS n, sum(l_quantity) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""

  val qDistinct: String = """SELECT l_returnflag,
  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
FROM lineitem GROUP BY l_returnflag"""

  val evTop3: String = """WITH r AS (
  SELECT user_id, event_id, value,
    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
  FROM events)
SELECT user_id, CAST(rank AS INT) AS rank, event_id, value FROM r WHERE rank <= 3"""

  val evSessionize: String = """WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), l AS (
  SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev FROM e
), f AS (
  SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS flag FROM l
), s AS (
  SELECT *, sum(flag) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS UNBOUNDED PRECEDING) AS sess FROM f
)
SELECT user_id, CAST(sess AS INT) AS session_id, CAST(count(*) AS INT) AS n_events,
  min(ts_us) AS start_us, max(ts_us) AS end_us
FROM s GROUP BY user_id, sess"""

  /** As-of join (mirrors graft.ops.Relational.asofJoin over events): for
    * each error event, the most recent signup of the same user at or before
    * it. The oracle states the semantics directly (join + max); the engine
    * computes it as a single-pass keyed window — same relation. */
  val evAsof: String = """WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error'
), s AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'signup'
)
SELECT e.event_id, e.user_id, e.ts_us, max(s.ts_us) AS last_signup_us
FROM e LEFT JOIN s ON s.user_id = e.user_id AND s.ts_us <= e.ts_us
GROUP BY e.event_id, e.user_id, e.ts_us"""

  /** Day-over-day retention: active users per day and how many were also
    * active the previous day. */
  val evRetention: String = """WITH d AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
), a AS (
  SELECT day, CAST(count(*) AS INT) AS active FROM d GROUP BY day
), r AS (
  SELECT c.day, CAST(count(*) AS INT) AS retained
  FROM d c JOIN d p ON c.user_id = p.user_id AND c.day = p.day + 1
  GROUP BY c.day
)
SELECT a.day, a.active, COALESCE(r.retained, 0) AS retained
FROM a LEFT JOIN r ON r.day = a.day"""

  /** Shared PQ CTE chain (mirrors graft.ops.Similarity.pqCodes): codebooks
    * from the stride sample, per-(vector, subspace) nearest code by the
    * ‖x−c‖² = x·x − 2·x·c + c·c fold with the (distance, code) tie-break.
    * Ends with `best` (one row per vec_id × sub, rn = 1 filter pending). */
  private val pqCte: String = {
    val (m, codes, stride, residue) =
      (graft.ops.Similarity.PqSubspaces, graft.ops.Similarity.PqCodes,
        graft.ops.Similarity.IvfCentroidStride,
        graft.ops.Similarity.IvfCentroidResidue)
    val sd = 64 / m
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), samp AS (
  SELECT vec_id, v FROM e WHERE vec_id % $stride = $residue
  ORDER BY vec_id LIMIT $codes
), cb AS (
  SELECT sub, vec_id AS cid, v[sub * $sd + 1 : sub * $sd + $sd] AS ce,
    CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS INT) AS code
  FROM samp, range($m) t(sub)
), cbn AS (
  SELECT *, list_dot_product(ce, ce) AS cn2 FROM cb
), vs AS (
  SELECT vec_id, sub, v[sub * $sd + 1 : sub * $sd + $sd] AS sv
  FROM e, range($m) t(sub)
), vsn AS (
  SELECT *, list_dot_product(sv, sv) AS sn2 FROM vs
), scored AS (
  SELECT vsn.vec_id, vsn.sub, cbn.code,
    vsn.sn2 - 2.0 * list_dot_product(vsn.sv, cbn.ce) + cbn.cn2 AS d
  FROM vsn JOIN cbn ON vsn.sub = cbn.sub
), best AS (
  SELECT vec_id, sub, code,
    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
  FROM scored
)"""
  }

  val pqCodes: String = pqCte + """
SELECT vec_id, array_to_string(list_transform(
    list(code ORDER BY sub), x -> CAST(x AS VARCHAR)), ':') AS codes_str
FROM best WHERE rn = 1 GROUP BY vec_id"""

  /** PQ ADC top-k (mirrors graft.ops.Similarity.pqAdcTopK): query-side
    * distance table over the same codebook, fixed-order 4-column sum. */
  val pqAdcTopK: String = {
    val m = graft.ops.Similarity.PqSubspaces
    val pivots = (0 until m)
      .map(si => s"max(CASE WHEN c.sub = $si THEN dt.dq END) AS d$si")
      .mkString(",\n    ")
    val adcSum = (0 until m).map(si => s"d$si").mkString(" + ")
    pqCte + s""",
ccodes AS (
  SELECT vec_id, sub, code FROM best WHERE rn = 1
), dtab AS (
  SELECT vsn.vec_id AS query_id, vsn.sub, cbn.code,
    vsn.sn2 - 2.0 * list_dot_product(vsn.sv, cbn.ce) + cbn.cn2 AS dq
  FROM vsn JOIN cbn ON vsn.sub = cbn.sub
  WHERE vsn.vec_id % 100 = 0
), pivoted AS (
  SELECT dt.query_id, c.vec_id,
    $pivots
  FROM ccodes c JOIN dtab dt ON dt.sub = c.sub AND dt.code = c.code
  WHERE c.vec_id <> dt.query_id
  GROUP BY dt.query_id, c.vec_id
), ranked AS (
  SELECT query_id, vec_id AS neighbor_id, $adcSum AS adc,
    row_number() OVER (PARTITION BY query_id
      ORDER BY $adcSum, vec_id) AS rank
  FROM pivoted
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, adc
FROM ranked WHERE rank <= 3"""
  }

  /** Shared IVF-PQ CTE chain (mirrors graft.ops.Similarity.ivfPqCodes at
    * lloydIters = 0): stride-sampled coarse centroids, nearest-cell
    * assignment by cosine, residual v − centroid(cell) elementwise,
    * residual-sample PQ codebooks, nearest squared-L2 code per
    * (vector, subspace). Ends with `ccodes` (vec_id, cell, sub, code). */
  private val ivfPqCte: String = ivfPqCteFiltered("")

  /** [[ivfPqCte]] over a filtered corpus (`corpusWhere` a full
    * `WHERE ...` clause or "") — the survivor-corpus oracle for the
    * takedown query: with the deleted ids outside both deterministic
    * quantizer samples, this chain's centroids/codebook equal the
    * full-corpus ones and only the coded corpus shrinks. */
  private def ivfPqCteFiltered(corpusWhere: String): String = {
    val (m, codes, stride, residue) =
      (graft.ops.Similarity.IvfPqSubspaces, graft.ops.Similarity.PqCodes,
        graft.ops.Similarity.IvfCentroidStride,
        graft.ops.Similarity.IvfCentroidResidue)
    val (se, sr) =
      (graft.ops.Similarity.PqSampleEvery, graft.ops.Similarity.PqSampleResidue)
    val sd = 64 / m
    s"""WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
    list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS n2
  FROM embeddings$corpusWhere
), c AS (
  SELECT vec_id AS cid, v AS cv, n2 AS cn2 FROM e WHERE vec_id % $stride = $residue
  ORDER BY vec_id LIMIT ${graft.ops.Similarity.IvfMaxCells}
), ${assignSql("c", "asg")}, resid AS (
  SELECT e.vec_id, a.cell,
    list_transform(range(64), i -> e.v[i + 1] - c.cv[i + 1]) AS rv
  FROM e JOIN asg a ON a.vec_id = e.vec_id JOIN c ON c.cid = a.cell
), rsamp AS (
  SELECT vec_id, rv FROM resid WHERE vec_id % $se = $sr
  ORDER BY vec_id LIMIT $codes
), rcb AS (
  SELECT sub, vec_id AS cid, rv[sub * $sd + 1 : sub * $sd + $sd] AS ce,
    CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS INT) AS code
  FROM rsamp, range($m) t(sub)
), rcbn AS (
  SELECT *, list_dot_product(ce, ce) AS cn2 FROM rcb
), rvs AS (
  SELECT vec_id, cell, sub, rv[sub * $sd + 1 : sub * $sd + $sd] AS sv
  FROM resid, range($m) t(sub)
), rvsn AS (
  SELECT *, list_dot_product(sv, sv) AS sn2 FROM rvs
), rscored AS (
  SELECT rvsn.vec_id, rvsn.cell, rvsn.sub, rcbn.code,
    rvsn.sn2 - 2.0 * list_dot_product(rvsn.sv, rcbn.ce) + rcbn.cn2 AS d
  FROM rvsn JOIN rcbn ON rvsn.sub = rcbn.sub
), rbest AS (
  SELECT vec_id, cell, sub, code,
    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
  FROM rscored
), ccodes AS (
  SELECT vec_id, cell, sub, code FROM rbest WHERE rn = 1
)"""
  }

  val ivfPqCodes: String = ivfPqCte + """
SELECT vec_id, cell, array_to_string(list_transform(
    list(code ORDER BY sub), x -> CAST(x AS VARCHAR)), ':') AS codes_str
FROM ccodes GROUP BY vec_id, cell"""

  /** IVF-PQ ADC top-k (mirrors graft.ops.Similarity.ivfPqAdcTopK,
    * lloydIters=0, nprobe=2): per probed cell the query RESIDUAL scores the
    * residual codebook; only corpus codes of probed cells are scanned
    * (equi-join on cell); fixed-order 4-column ADC sum. */
  /** The IVF-PQ probe/ADC chain through the `ranked` CTE, shared by
    * [[ivfPqAdcTopK]] and [[ivfPqRerank]]. */
  private def ivfPqRankedChain: String =
    ivfPqRankedChainFor("", "vec_id % 100 = 0")

  /** [[ivfPqRankedChain]] over a filtered corpus and a custom query
    * predicate (the takedown oracle probes survivors). */
  private def ivfPqRankedChainFor(corpusWhere: String,
      queryWhere: String): String = {
    val m = graft.ops.Similarity.IvfPqSubspaces
    val sd = 64 / m
    val pivots = (0 until m)
      .map(si => s"max(CASE WHEN cc.sub = $si THEN dt.dq END) AS d$si")
      .mkString(",\n    ")
    val adcSum = (0 until m).map(si => s"d$si").mkString(" + ")
    ivfPqCteFiltered(corpusWhere) + s""",
q AS (
  SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM e WHERE $queryWhere
), probes AS (
  SELECT qid, cid AS cell,
    list_transform(range(64), i -> qv[i + 1] - cv[i + 1]) AS qrv
  FROM (
    SELECT q.qid, q.qv, c.cid, c.cv,
      row_number() OVER (PARTITION BY q.qid
        ORDER BY list_dot_product(q.qv, c.cv) / sqrt(q.qn2 * c.cn2) DESC, c.cid) AS pr
    FROM q, c) WHERE pr <= 2
), qsub AS (
  SELECT qid, cell, sub, qrv[sub * $sd + 1 : sub * $sd + $sd] AS qsv
  FROM probes, range($m) t(sub)
), qsubn AS (
  SELECT *, list_dot_product(qsv, qsv) AS qn2 FROM qsub
), dtab AS (
  SELECT qsubn.qid, qsubn.cell, qsubn.sub, rcbn.code,
    qsubn.qn2 - 2.0 * list_dot_product(qsubn.qsv, rcbn.ce) + rcbn.cn2 AS dq
  FROM qsubn JOIN rcbn ON qsubn.sub = rcbn.sub
), pivoted AS (
  SELECT dt.qid AS query_id, cc.vec_id,
    $pivots
  FROM ccodes cc JOIN dtab dt
    ON dt.cell = cc.cell AND dt.sub = cc.sub AND dt.code = cc.code
  WHERE cc.vec_id <> dt.qid
  GROUP BY dt.qid, cc.vec_id
), ranked AS (
  SELECT query_id, vec_id AS neighbor_id, $adcSum AS adc,
    row_number() OVER (PARTITION BY query_id
      ORDER BY $adcSum, vec_id) AS rank
  FROM pivoted
)"""
  }

  val ivfPqAdcTopK: String = ivfPqRankedChain + """
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, adc
FROM ranked WHERE rank <= 3"""

  /** The exact-cosine rerank tail shared by [[ivfPqRerank]] and
    * [[ivfPqRerankSurvivors]] (shortlist 30, k 3). */
  private val ivfPqRerankTail: String = """, sl AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 30
), rr AS (
  SELECT sl.query_id, sl.neighbor_id,
    list_dot_product(qe.v, ne.v) / sqrt(qe.n2 * ne.n2) AS cosine,
    row_number() OVER (PARTITION BY sl.query_id
      ORDER BY list_dot_product(qe.v, ne.v) / sqrt(qe.n2 * ne.n2) DESC,
        sl.neighbor_id) AS rank
  FROM sl JOIN e qe ON qe.vec_id = sl.query_id
       JOIN e ne ON ne.vec_id = sl.neighbor_id
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine
FROM rr WHERE rank <= 3"""

  /** Two-stage rerank oracle (mirrors graft.ops.Similarity.ivfPqRerankTopK,
    * shortlist 30, k 3): the ADC chain's top-30, exact-cosine rescored. */
  val ivfPqRerank: String = ivfPqRankedChain + ivfPqRerankTail

  /** The takedown oracle (mirrors graft.ops.Similarity.annIndexDeleteProbe):
    * the SAME two-stage rerank, run over the corpus minus the deleted
    * `vec_id % 10 = 0` batch with survivor queries (`% 100 = 4`). The
    * engine must earn these rows through the real tombstone + compaction
    * round trip; the oracle states the surviving-corpus answer directly
    * — valid because the deleted ids fall outside both deterministic
    * quantizer samples, so full-corpus quantizers equal survivor-corpus
    * ones and the compacted index is bit-identical to a fresh build. */
  val ivfPqRerankSurvivors: String =
    ivfPqRankedChainFor(" WHERE vec_id % 10 <> 0", "vec_id % 100 = 4") +
      ivfPqRerankTail

  /** Drift-check oracle (mirrors graft.ops.Similarity.annQuantizationCheck
    * over the ann_index_drift fixture batch): the batch is the `%10 == 0`
    * corpus rows PLUS their NEGATIONS under fresh ids (negation is exact
    * in IEEE floats, so engine-side float negate == oracle-side double
    * negate — maximal drift with zero rounding ambiguity); each batch
    * vector assigns to its nearest existing cell, residualizes, and takes
    * the per-subspace min squared distance to the existing codebook,
    * summed in fixed subspace order. The quantizer CTEs are the shared
    * IVF-PQ chain's; the corpus-encode CTEs it also defines go unused and
    * DuckDB dead-code-eliminates them. */
  val annIndexDrift: String = {
    val m = graft.ops.Similarity.IvfPqSubspaces
    val sd = 64 / m
    val pivots = (0 until m)
      .map(si => s"max(CASE WHEN sub = $si THEN d END) AS d$si")
      .mkString(",\n    ")
    val qerrSum = (0 until m).map(si => s"d$si").mkString(" + ")
    ivfPqCte + s""",
bat AS (
  SELECT vec_id, v, n2 FROM e WHERE vec_id % 10 = 0
  UNION ALL
  SELECT vec_id + 10000000, list_transform(v, x -> -x), n2
  FROM e WHERE vec_id % 10 = 0
), ${assignSql("c", "basg", "bat")},
bresid AS (
  SELECT bat.vec_id, a.cell,
    list_transform(range(64), i -> bat.v[i + 1] - c.cv[i + 1]) AS rv
  FROM bat JOIN basg a ON a.vec_id = bat.vec_id JOIN c ON c.cid = a.cell
), bsub AS (
  SELECT vec_id, cell, sub, rv[sub * $sd + 1 : sub * $sd + $sd] AS sv
  FROM bresid, range($m) t(sub)
), bsubn AS (
  SELECT *, list_dot_product(sv, sv) AS sn2 FROM bsub
), bd AS (
  SELECT bsubn.vec_id, bsubn.cell, bsubn.sub,
    min(bsubn.sn2 - 2.0 * list_dot_product(bsubn.sv, rcbn.ce) + rcbn.cn2) AS d
  FROM bsubn JOIN rcbn ON bsubn.sub = rcbn.sub
  GROUP BY 1, 2, 3
), pv AS (
  SELECT vec_id, cell,
    $pivots
  FROM bd GROUP BY vec_id, cell
)
SELECT vec_id, cell, $qerrSum AS qerr FROM pv"""
  }

  /** Conversion funnel (mirrors the ev_funnel composition): per user, the
    * first purchase within 7 days of its as-of signup. */
  /** Tumbling-window counts (mirrors the ev_windowed query; Spark window()
    * aligns 1-hour tumbling windows to the epoch, so the bucket start is
    * floor(us / 3600e6) * 3600e6). */
  val evWindowed: String = """WITH e AS (
  SELECT event_type, epoch_us(ts) AS us FROM events
)
SELECT (us // 3600000000) * 3600000000 AS window_start_us, event_type,
  CAST(count(*) AS INT) AS n
FROM e GROUP BY 1, 2"""

  val qAntijoin: String = """SELECT c_custkey, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')"""

  /** Trailing-spike oracle (mirrors graft.ops.Relational.trailingSpikes,
    * 1-hour buckets, lookback 24, factor 3): integer bucketing
    * (ts − ts mod width), ROWS frame over observed buckets, the
    * integer-exact `cnt · n_prev > 3 · sum_prev` flag. */
  val evSpikes: String = """WITH e AS (
  SELECT event_type, epoch_us(ts) AS ts_us FROM events
), c AS (
  SELECT event_type, ts_us - (ts_us % 3600000000) AS bucket_us,
    count(*) AS cnt
  FROM e GROUP BY 1, 2
)
SELECT event_type, bucket_us, cnt,
  count(cnt) OVER w AS prev_buckets,
  CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT) AS prev_total,
  (count(cnt) OVER w > 0 AND
   cnt * count(cnt) OVER w > 3 * CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT))
    AS is_spike
FROM c
WINDOW w AS (PARTITION BY event_type ORDER BY bucket_us
  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)"""

  val evFunnel: String = """WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events
), p AS (
  SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'
), s AS (
  SELECT user_id, ts_us FROM e WHERE event_type = 'signup'
), a AS (
  SELECT p.event_id, p.user_id, p.ts_us, max(s.ts_us) AS signup_us
  FROM p LEFT JOIN s ON s.user_id = p.user_id AND s.ts_us <= p.ts_us
  GROUP BY p.event_id, p.user_id, p.ts_us
), f AS (
  SELECT * FROM a
  WHERE signup_us IS NOT NULL AND ts_us - signup_us <= 7 * 86400000000
), r AS (
  SELECT user_id, ts_us AS purchase_us, signup_us,
    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, signup_us) AS rn
  FROM f
)
SELECT user_id, purchase_us, signup_us FROM r WHERE rn = 1"""

  /** Dataset-card rollup by (lang, source); the mean is one division of
    * exact integer aggregates (bit-identical across engines). */
  val corpusStats: String = s"""WITH t AS (
  SELECT lang, source, len($toks) AS n_tokens, length(text) AS n_chars FROM documents
)
SELECT lang, source, CAST(count(*) AS INT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  CAST(max(n_tokens) AS INT) AS max_tokens,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens
FROM t GROUP BY lang, source"""

  /** PII scrub (mirrors graft.ops.TextAnalysis.pii — same pattern constants,
    * same email → ip → phone replacement order; patterns are restricted to
    * the Java-regex ∩ RE2 dialect so both engines match identically). */
  val textPii: String = {
    import graft.ops.TextAnalysis.PiiPatterns._
    s"""SELECT doc_id,
  CAST(len(regexp_extract_all(text, '$Email')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(text, '$Ipv4')) AS INT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '$Phone')) AS INT) AS n_phones,
  regexp_replace(regexp_replace(regexp_replace(text,
    '$Email', '<EMAIL>', 'g'), '$Ipv4', '<IP>', 'g'), '$Phone', '<PHONE>', 'g') AS redacted
FROM documents"""
  }

  /** Corpus-frequency quality (mirrors graft.ops.TextAnalysis.freqQuality):
    * rare = `2·c·|vocab| < total` — an integer predicate, no float
    * threshold; both output ratios are single divisions of exact integers. */
  val textFreqQuality: String = s"""WITH t AS (
  SELECT doc_id, unnest($toks) AS tok FROM documents
), f AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY tok
), g AS (
  SELECT CAST(sum(c) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_vocab FROM f
)
SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
  CAST(sum(c) AS DOUBLE) / count(*) AS mean_tok_count,
  CAST(count(*) FILTER (WHERE c <= (total - 1) // (2 * n_vocab)) AS DOUBLE)
    / count(*) AS rare_frac
FROM t JOIN f USING (tok) CROSS JOIN g
GROUP BY doc_id"""

  /** Per-source document cap oracle (mirrors
    * graft.ops.TextAnalysis.capPerSource, cap=10, buckets=10⁶): the naive
    * rank formulation — row_number per source over (quantized bucket DESC,
    * doc_id) — which the engine's histogram + boundary-bucket plan
    * reproduces exactly. */
  val textCapPerSource: String = s"""WITH ${qualityScoreOver("documents")},
scored AS (
  SELECT doc_id, source, quality,
    coalesce(CAST(floor(quality * 1000000) AS BIGINT), -1) AS qb
  FROM qs
), r AS (
  SELECT doc_id, source, quality,
    row_number() OVER (PARTITION BY source ORDER BY qb DESC, doc_id) AS rn
  FROM scored
)
SELECT doc_id, source, quality, rn <= 10 AS kept FROM r"""

  /** Token-budget selection oracle (mirrors
    * graft.ops.TextAnalysis.selectBudget, budget=10000, buckets=10⁶): the
    * naive global-window formulation — cumulative preceding tokens over
    * (quantized bucket DESC, doc_id) strictly under budget — which the
    * engine's bounded-histogram + boundary-bucket plan reproduces exactly. */
  val corpusSelectBudget: String = s"""WITH ${qualityScoreOver("documents")},
scored AS (
  SELECT q.doc_id, CAST(q2.n_tokens AS BIGINT) AS n_tokens, q.quality,
    coalesce(CAST(floor(q.quality * 1000000) AS BIGINT), -1) AS qb
  FROM qs q JOIN qq q2 USING (doc_id)
), r AS (
  SELECT doc_id, quality, n_tokens,
    coalesce(sum(n_tokens) OVER (ORDER BY qb DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM scored
)
SELECT doc_id, quality, n_tokens, cum_prev < 10000 AS kept FROM r"""

  /** Cross-corpus dedup oracle (mirrors graft.ops.Dedup.crossDedup with
    * reference = source 'src0', corpus = the rest): byte-exact and
    * normalized digest membership against the reference corpus. */
  val dedupCross: String = """WITH nrm AS (
  SELECT doc_id, source, md5(text) AS h,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      ' +', ' ', 'g'))) AS nh
  FROM documents
), ref AS (SELECT DISTINCT h FROM nrm WHERE source = 'src0'),
refn AS (SELECT DISTINCT nh FROM nrm WHERE source = 'src0')
SELECT c.doc_id,
  r.h IS NOT NULL AS exact_hit,
  rn.nh IS NOT NULL AS norm_hit,
  NOT (r.h IS NOT NULL OR rn.nh IS NOT NULL) AS kept
FROM nrm c
LEFT JOIN ref r ON c.h = r.h
LEFT JOIN refn rn ON c.nh = rn.nh
WHERE c.source <> 'src0'"""

  /** TPC-H Q5 shape (local-supplier revenue by nation within a region). */
  val q5Local: String = """SELECT n_name,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name"""

  val q3Join: String = """SELECT o_orderpriority, c_mktsegment,
  CAST(count(*) AS INT) AS n,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority, c_mktsegment"""

  /** Per-line HTML cleaner (mirrors graft.ops.TextExtract.cleanLine): strip
    * tags, decode the six entities (&amp; LAST — the single-pass rule), and
    * collapse whitespace. `e` is the line expression. */
  private def cleanLineSql(e: String): String =
    "trim(regexp_replace(" +
      "replace(replace(replace(replace(replace(replace(" +
      s"regexp_replace($e, '<[^>]*>', ' ', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), " +
      "'&nbsp;', ' '), '&amp;', '&'), " +
      "'[ \\t\\r\\n]+', ' ', 'g'))"

  /** HTML render (mirrors graft.ops.TextExtract.htmlPages, paraWords=12) +
    * line-level boilerplate extraction (mirrors TextExtract.extract,
    * minWords=3, maxLinkDensity=1/3) over a (doc_id, text, source)
    * relation. A full standalone query selecting
    * (doc_id, source, text, n_lines_kept, n_lines_dropped) — wrap in
    * parens to embed as a derived table. */
  private def htmlPagesOver(src: String): String = s"""WITH w0 AS (
  SELECT doc_id, source, string_split(text, ' ') AS words FROM $src
), w1 AS (
  SELECT doc_id, source, words,
    greatest(1, CAST(ceil(len(words) / 12.0) AS INT)) AS npar
  FROM w0
)
SELECT doc_id, source,
  '<html><head><title>Document ' || CAST(doc_id AS VARCHAR) || '</title>'
  || '<style>body { margin: 0; font: 14px sans-serif; }</style>'
  || '<script type="text/javascript">var src = "' || source
  || '"; track(src);</script></head><body>'
  || '<nav><a href="/">Home</a> <a href="/s/' || source || '">' || source
  || '</a> <a href="/tags">Tags</a></nav>'
  || '<div class="content">'
  || array_to_string(list_transform(range(npar), i ->
       '<p>' || array_to_string(list_slice(words, i*12 + 1, i*12 + 12), ' ')
       || '</p>'), '')
  || '</div>'
  || '<div class="share"><a href="/share">Share</a> <a href="/like">Like</a></div>'
  || '<footer><a href="/tos">Terms of Service</a> <a href="/privacy">Privacy</a> (c) 2026 '
  || source || '</footer></body></html>' AS html
FROM w1"""

  private def htmlExtractOver(src: String): String = {
    val keep = "struct_extract(p, 'words') >= 3 AND " +
      "CAST(struct_extract(p, 'lchars') AS DOUBLE) <= " +
      "(1.0/3) * CAST(struct_extract(p, 'chars') AS DOUBLE)"
    s"""WITH pages AS (
  SELECT * FROM (${htmlPagesOver(src)})
), blocky AS (
  SELECT doc_id, source, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
    '(?s)<!--.*?-->', ' ', 'g'),
    '[ \\t\\r\\n]+', ' ', 'g'),
    '(?i)</(p|div|li|h[1-6]|tr|td|th|table|ul|ol|section|article|header|footer|nav|blockquote|title)>|<br[^>]*>',
    chr(10), 'g') AS b
  FROM pages
), perline AS (
  SELECT doc_id, source,
    list_transform(string_split(b, chr(10)), l -> struct_pack(
      txt := ${cleanLineSql("l")},
      ltxt := ${cleanLineSql(
        // coalesce: DuckDB's array_to_string over an EMPTY list is NULL,
        // Spark's array_join is '' — pin the no-anchors line to ''
        "coalesce(array_to_string(regexp_extract_all(l, '(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')")}
    )) AS per0
  FROM blocky
), stats AS (
  SELECT doc_id, source, list_transform(per0, q -> struct_pack(
      txt := struct_extract(q, 'txt'),
      words := CASE WHEN struct_extract(q, 'txt') = '' THEN 0
        ELSE CAST(len(string_split(struct_extract(q, 'txt'), ' ')) AS INT) END,
      chars := CAST(length(struct_extract(q, 'txt')) AS INT),
      lchars := CAST(length(struct_extract(q, 'ltxt')) AS INT))) AS per
  FROM perline
)
SELECT doc_id, source,
  coalesce(array_to_string(list_transform(list_filter(per, p -> $keep),
    p -> struct_extract(p, 'txt')), chr(10)), '') AS text,
  CAST(len(list_filter(per, p -> $keep)) AS INT) AS n_lines_kept,
  CAST(len(list_filter(per, p -> struct_extract(p, 'words') > 0)) AS INT)
    - CAST(len(list_filter(per, p -> $keep)) AS INT) AS n_lines_dropped
FROM stats"""
  }

  /** Stage-zero extraction oracle (mirrors graft.ops.TextExtract
    * .textExtract over the rendered fixture pages). */
  val textExtractHtml: String = htmlExtractOver("documents")

  /** FineWeb recipe re-rooted on EXTRACTED text (mirrors
    * graft.ops.Prep.prepFineWebHtml): render → extract → Gopher rules →
    * normalized-exact canonicals → per-source top-30% quality →
    * split + pack — the full crawl-to-shards pipeline from stage zero. */
  val prepFinewebHtml: String = s"""WITH ext AS MATERIALIZED (
  SELECT doc_id, text, source FROM (${htmlExtractOver("documents")})
), gph AS MATERIALIZED (
  SELECT doc_id FROM (${textGopherOver("ext")}) WHERE kept
), g AS MATERIALIZED (
  SELECT d.* FROM ext d JOIN gph USING (doc_id)
), nrm AS MATERIALIZED (
  SELECT doc_id,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      ' +', ' ', 'g'))) AS nh
  FROM g
), ncanon AS MATERIALIZED (
  SELECT min(doc_id) AS doc_id FROM nrm GROUP BY nh
), canon AS MATERIALIZED (
  SELECT g.* FROM g JOIN ncanon USING (doc_id)
), tfk AS MATERIALIZED (
  SELECT doc_id FROM (${textQualityTopFracOver("canon")}) WHERE kept
), selected AS MATERIALIZED (
  SELECT c.* FROM canon c JOIN tfk USING (doc_id)
), packed AS MATERIALIZED (
  SELECT * FROM (${textPackOver("selected")})
), sp AS MATERIALIZED (
  ${textSplitOver("selected")}
)
SELECT packed.doc_id, sp.split, packed.shard, packed.seq,
  packed.tok_offset, packed.n_tokens
FROM packed JOIN sp USING (doc_id)"""

  /** Corpus-level line-dedup oracle (mirrors
    * graft.ops.TextAnalysis.lineDedup, minDf=2, over the stage-zero
    * extraction): lines with distinct-doc frequency >= 2 are dropped from
    * EVERY document; docs reassemble from the survivors in line order. The
    * oracle groups on the line TEXT where the engine groups on its md5
    * digest — equality is equality either way. */
  private def lineDedupOver(src: String): String = s"""WITH ldsrc AS (
  SELECT doc_id, text FROM ($src)
), ldls AS (
  SELECT doc_id, unnest(pl, recursive := true) FROM (
    SELECT doc_id, list_transform(range(1, len(sl) + 1),
      i -> struct_pack(li := i, line := sl[i])) AS pl
    FROM (SELECT doc_id, string_split(text, chr(10)) AS sl FROM ldsrc))
), ldnb AS (
  SELECT doc_id, li, line FROM ldls WHERE line <> ''
), ldcommon AS (
  SELECT line FROM (SELECT DISTINCT doc_id, line FROM ldnb)
  GROUP BY line HAVING count(*) >= 2
), ldkept AS (
  SELECT doc_id, li, line FROM ldnb
  WHERE line NOT IN (SELECT line FROM ldcommon)
), ldbydoc AS (
  SELECT doc_id, array_to_string(list(line ORDER BY li), chr(10)) AS cleaned,
    CAST(count(*) AS INT) AS n_kept
  FROM ldkept GROUP BY doc_id
), ldcnts AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_lines FROM ldnb GROUP BY doc_id
)
SELECT e.doc_id, coalesce(b.cleaned, '') AS cleaned_text,
  coalesce(c.n_lines, 0) AS n_lines, coalesce(b.n_kept, 0) AS n_kept
FROM ldsrc e LEFT JOIN ldcnts c USING (doc_id)
LEFT JOIN ldbydoc b USING (doc_id)"""

  val textLineDedup: String = lineDedupOver(htmlExtractOver("documents"))

  /** URL fixture render (mirrors graft.ops.UrlOps.pageUrls): deterministic
    * scheme/host/port/path/query/fragment from doc_id residues — every
    * normalize/filter rule has a witness. Selects (doc_id, url, text). */
  private def urlPagesOver(src: String): String = s"""WITH ub AS (
  SELECT doc_id, text, lang, source,
    (CASE WHEN doc_id % 3 = 0 THEN 'www.' WHEN doc_id % 3 = 1 THEN 'blog.'
          ELSE '' END) || source || '-site' ||
    (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.org'
          WHEN doc_id % 4 = 2 THEN '.co.uk' ELSE '.net' END) AS base_host
  FROM $src
), uh AS (
  SELECT doc_id, text, lang,
    CASE WHEN doc_id % 5 = 0 THEN upper(h0) ELSE h0 END AS host
  FROM (SELECT *, CASE WHEN doc_id % 9 = 0 THEN 'spam-mirror.net'
        ELSE base_host END AS h0 FROM ub)
), up AS (
  SELECT *, CASE WHEN doc_id % 17 = 0
      THEN p0 || repeat('/long-segment-padding', 20) ELSE p0 END AS path0
  FROM (SELECT *, CASE WHEN doc_id % 13 = 0
        THEN '/casino-bonus/win-' || CAST(doc_id AS VARCHAR)
        ELSE '/' || lang || '/article-' || CAST(doc_id AS VARCHAR) END AS p0
        FROM uh)
)
SELECT doc_id,
  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' || host ||
  (CASE WHEN doc_id % 6 = 0 THEN ':443' WHEN doc_id % 6 = 3 THEN ':8080'
        ELSE '' END) || path0 ||
  (CASE WHEN doc_id % 4 = 0
        THEN '?utm_source=feed&id=' || CAST(doc_id % 97 AS VARCHAR)
        WHEN doc_id % 4 = 1 THEN '?id=' || CAST(doc_id % 97 AS VARCHAR)
        ELSE '' END) ||
  (CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END) AS url,
  text
FROM up"""

  /** Outlink oracle (mirrors graft.ops.TextExtract.webOutlinks): the
    * closed FORM of the two render recipes — every fixture page's HTML
    * carries exactly seven root-relative links (nav /, /s/{source}, /tags;
    * share /share, /like; footer /tos, /privacy), and root-relative
    * resolution is origin || link, with the origin exactly as the URL
    * recipe renders it (uppercased host on %5, explicit :443/:8080 ports —
    * resolution does NOT normalize; that is url_norm's job downstream).
    * The engine must earn these rows through the real href extraction and
    * the general RFC 3986 resolver; the relative/dot-segment cases that
    * resolver also handles are spec-pinned (the fixture links are dotless,
    * deliberately — DuckDB's RE2 could not mirror the lookahead unroll). */
  val webOutlinks: String = s"""WITH ub AS (
  SELECT doc_id, source,
    (CASE WHEN doc_id % 3 = 0 THEN 'www.' WHEN doc_id % 3 = 1 THEN 'blog.'
          ELSE '' END) || source || '-site' ||
    (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.org'
          WHEN doc_id % 4 = 2 THEN '.co.uk' ELSE '.net' END) AS base_host,
    (CASE WHEN doc_id % 13 = 0
          THEN '/casino-bonus/win-' || CAST(doc_id AS VARCHAR)
          ELSE '/' || lang || '/article-' || CAST(doc_id AS VARCHAR)
     END) AS p0
  FROM documents
), o AS (
  SELECT doc_id, source,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
    (CASE WHEN doc_id % 5 = 0 THEN upper(h0) ELSE h0 END) ||
    (CASE WHEN doc_id % 6 = 0 THEN ':443' WHEN doc_id % 6 = 3 THEN ':8080'
          ELSE '' END) AS origin,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
    (CASE WHEN doc_id % 5 = 0 THEN upper(h0) ELSE h0 END) ||
    (CASE WHEN doc_id % 6 = 0 THEN ':443' WHEN doc_id % 6 = 3 THEN ':8080'
          ELSE '' END) ||
    (CASE WHEN doc_id % 17 = 0
          THEN p0 || repeat('/long-segment-padding', 20) ELSE p0 END) ||
    (CASE WHEN doc_id % 4 = 0
          THEN '?utm_source=feed&id=' || CAST(doc_id % 97 AS VARCHAR)
          WHEN doc_id % 4 = 1 THEN '?id=' || CAST(doc_id % 97 AS VARCHAR)
          ELSE '' END) ||
    (CASE WHEN doc_id % 5 = 0 THEN '#section2' ELSE '' END) AS url
  FROM (SELECT doc_id, source, p0,
          CASE WHEN doc_id % 9 = 0 THEN 'spam-mirror.net' ELSE base_host END AS h0
        FROM ub)
), l AS (
  SELECT doc_id, url, origin,
    unnest(['/', '/s/' || source, '/tags', '/share', '/like',
            '/tos', '/privacy']) AS link_raw
  FROM o
)
SELECT doc_id, url, link_raw, origin || link_raw AS link FROM l"""

  /** URL parse + normalize over a (doc_id, url, text) relation (mirrors
    * graft.ops.UrlOps.parseNormalize): lowercased scheme/host, www strip,
    * default-port strip, tracking-param removal, fragment drop,
    * registered-domain by the bounded second-level-suffix list. Selects
    * every parsed part plus url_norm and the ride-along text. */
  private def urlParsedOver(src: String): String = s"""WITH uu AS (
  SELECT * FROM ($src)
), hp AS (
  SELECT *, regexp_replace(regexp_extract(url,
    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^[^/@]*@', '') AS hostport
  FROM uu
), parsed AS (
  SELECT doc_id, url, text,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    CASE WHEN hostport LIKE '[%'
         THEN '[' || lower(regexp_extract(hostport,
           '^\\[([^\\]]*)\\]', 1)) || ']'
         ELSE lower(regexp_extract(hostport, '^([^:]*)', 1)) END AS rawhost,
    CASE WHEN hostport LIKE '[%'
         THEN regexp_extract(hostport, '^\\[[^\\]]*\\]:([0-9]+)$$', 1)
         ELSE regexp_extract(hostport, ':([0-9]+)$$', 1) END AS portstr,
    regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
    regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM hp
), norm AS (
  SELECT doc_id, url, text, scheme,
    regexp_replace(rawhost, '^www\\.', '') AS host,
    CASE WHEN portstr = '' THEN NULL ELSE CAST(portstr AS INT) END AS port,
    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
    list_filter(string_split(q, '&'), p ->
      NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=.*)?$$')
      AND p <> '') AS kp
  FROM parsed
), rd AS (
  SELECT *,
    CASE WHEN host LIKE '[%' THEN host
         WHEN len(labels) <= 2 THEN host
         WHEN labels[-2] || '.' || labels[-1] IN
             ('co.uk','org.uk','ac.uk','com.au','co.jp','com.br','co.in')
           AND len(labels) >= 3
           THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
         ELSE labels[-2] || '.' || labels[-1] END AS registered_domain
  FROM (SELECT *, string_split(host, '.') AS labels FROM norm)
)
SELECT doc_id, url, text, scheme, host, port, path, registered_domain,
  scheme || '://' || host ||
  (CASE WHEN port IS NULL OR (scheme = 'http' AND port = 80)
        OR (scheme = 'https' AND port = 443) THEN ''
        ELSE ':' || CAST(port AS VARCHAR) END) || path ||
  (CASE WHEN len(kp) > 0 THEN '?' || array_to_string(kp, '&')
        ELSE '' END) AS url_norm
FROM rd"""

  /** URL parse/normalize oracle (mirrors graft.ops.UrlOps.webUrls over the
    * rendered fixture URLs). */
  /** robots.txt gate oracle (mirrors graft.ops.Robots.webRobots): the
    * engine renders per-domain robots from the SAME L=length(domain)
    * recipe (including CRLF/lowercase lexical variants and the stacked
    * graftbot group — decision-invariant), parses them back, and decides
    * by most-specific-match — the oracle states the DECISION generatively
    * (casino block; /de/ section block with the /de/article- allow
    * carve-out on L%3==0; the wildcard `&#47;*-padding$` block on L%5==0; the
    * wildcard `Allow: /casino-bonus/win-*0$` carve-out on L%5==1, whose
    * literal prefix (18) outranks the casino disallow (14); the graftbot
    * override group allowing everything on L%4==0; star-group crawl delay
    * (L%7)+1), so the engine's render→parse→decide round trip must land on
    * exactly these rows. CASE order encodes specificity: the /de/article-
    * allow (12) beats /de/ (4) and the padding wildcard (1);
    * /casino-bonus/ (14) beats the padding wildcard on padded casino
    * paths. */
  /** The robots decision columns over a relation carrying
    * `l = length(registered_domain)` and normalized `path` — shared
    * between [[webRobots]] and the frontier oracles so the generative
    * decision statement lives in ONE place. CASE order encodes rule
    * specificity (see the [[webRobots]] doc above). */
  private val robotsDecisionCols: String = s"""
  CASE WHEN l % 4 = 0 THEN TRUE
       WHEN path LIKE '/casino-bonus/%' THEN
            (l % 5 = 1 AND path LIKE '/casino-bonus/win-%0')
       WHEN l % 3 = 0 AND path LIKE '/de/article-%' THEN TRUE
       WHEN l % 3 = 0 AND path LIKE '/de/%' THEN FALSE
       WHEN l % 5 = 0 AND path LIKE '%-padding' THEN FALSE
       ELSE TRUE END AS robots_allowed,
  CASE WHEN l % 4 = 0 THEN '/'
       WHEN path LIKE '/casino-bonus/%' THEN
            CASE WHEN l % 5 = 1 AND path LIKE '/casino-bonus/win-%0'
                 THEN '/casino-bonus/win-*0$$' ELSE '/casino-bonus/' END
       WHEN l % 3 = 0 AND path LIKE '/de/article-%' THEN '/de/article-'
       WHEN l % 3 = 0 AND path LIKE '/de/%' THEN '/de/'
       WHEN l % 5 = 0 AND path LIKE '%-padding' THEN '/*-padding$$'
       WHEN l % 3 = 1 AND path LIKE '/private/%' THEN '/private/'
       ELSE NULL END AS robots_rule,
  CAST(CASE WHEN l % 4 = 0 THEN NULL ELSE (l % 7) + 1 END AS INT)
    AS crawl_delay"""

  val webRobots: String = s"""SELECT doc_id, url, registered_domain, path,
  $robotsDecisionCols
FROM (SELECT *, length(registered_domain) AS l
      FROM (${urlParsedOver(urlPagesOver("documents"))}))"""

  /** Sitemap-listing oracle (mirrors graft.ops.Robots.webSitemaps): the
    * fixture renders a leading Sitemap record on L%3==2 domains plus a
    * news sitemap on L%6==2 — the oracle states the listing table in
    * closed form; the engine must recover it through its robots parse. */
  val webSitemaps: String = s"""WITH doms AS (
  SELECT DISTINCT registered_domain, length(registered_domain) AS l
  FROM (${urlParsedOver(urlPagesOver("documents"))})
)
SELECT registered_domain,
  'https://' || registered_domain || '/sitemap.xml' AS sitemap_url
FROM doms WHERE l % 3 = 2
UNION ALL
SELECT registered_domain,
  'https://' || registered_domain || '/sitemap-news.xml'
FROM doms WHERE l % 6 = 2"""

  /** Sitemap-document oracle (mirrors graft.ops.Robots.webSitemapDocs):
    * the fixture renders each listed sitemap as XML — even-L domains (all
    * sitemap domains have L%3==2, so even ⟺ L%6==2) get a sitemapindex of
    * two /sitemap-part{k}.xml shards, odd-L a direct urlset of (L%4)+2
    * pages; part shards carry (L%5)+1 items; news sitemaps 2 items;
    * lastmod omitted on the %5==0 residues. The oracle states the
    * discovered page table in closed form; the engine must reach it
    * through its real XML parse + the one-hop index recursion. */
  val webSitemapDocs: String = s"""WITH doms AS (
  SELECT DISTINCT registered_domain, length(registered_domain) AS l
  FROM (${urlParsedOver(urlPagesOver("documents"))})
), sdoms AS (SELECT * FROM doms WHERE l % 3 = 2),
direct AS (
  SELECT registered_domain, l,
    unnest(generate_series(1, (l % 4) + 2)) AS i
  FROM sdoms WHERE l % 2 = 1
), parts AS (
  SELECT registered_domain, l, k,
    unnest(generate_series(1, (l % 5) + 1)) AS i
  FROM (SELECT registered_domain, l, unnest(generate_series(1, 2)) AS k
        FROM sdoms WHERE l % 2 = 0)
), news AS (
  SELECT registered_domain, l, unnest(generate_series(1, 2)) AS i
  FROM sdoms WHERE l % 6 = 2
)
SELECT registered_domain,
  'https://' || registered_domain || '/sitemap.xml' AS sitemap_url,
  'https://' || registered_domain || '/page/' || i AS loc,
  CASE WHEN (l + i) % 5 = 0 THEN NULL
       ELSE '2026-02-' || lpad(CAST((l + i) % 28 + 1 AS VARCHAR), 2, '0')
       END AS lastmod
FROM direct
UNION ALL
SELECT registered_domain,
  'https://' || registered_domain || '/sitemap-part' || k || '.xml',
  'https://' || registered_domain || '/part' || k || '/item-' || i,
  CASE WHEN (l + i + k) % 5 = 0 THEN NULL
       ELSE '2026-03-' || lpad(CAST((l + i + k) % 28 + 1 AS VARCHAR), 2, '0')
       END
FROM parts
UNION ALL
SELECT registered_domain,
  'https://' || registered_domain || '/sitemap-news.xml',
  'https://' || registered_domain || '/news/' || i,
  '2026-04-0' || i
FROM news"""

  /** Canonical-dedup oracle (mirrors graft.ops.UrlOps.webUrlCanonical):
    * the syndicated copy's dedup key IS its original's url_norm (the
    * canonical link resolves to the raw original minus fragment, and
    * normalization does the rest), base pages key on their own url_norm,
    * and the hostile smaller-id thief (`% 10 == 3`, `-(id)-1`) keys on
    * its victim's norm — stated generatively; the engine must earn each
    * key through the real `<link rel=canonical>` extraction, RFC 3986
    * resolution, and normalization. Keeper election mirrors the engine's
    * untrusted-content hardening (advisor r14 — the chain oracle's
    * `selfc` form): keep_id = min id among declarers whose OWN norm IS
    * the key, falling back to plain min — so the thief's smaller id
    * cannot demote the genuine original. */
  lazy val webUrlCanonical: String = {
    val pages = s"SELECT doc_id, url FROM (${urlPagesOver("documents")})"
    s"""WITH n AS (
  ${urlNormCols(s"SELECT doc_id, url FROM ($pages)")}
), k AS (
  SELECT doc_id, url_norm AS dedup_key, TRUE AS selfc FROM n
  UNION ALL
  SELECT doc_id + 20000000, url_norm, FALSE FROM n WHERE doc_id % 10 = 0
  UNION ALL
  SELECT -doc_id - 1, url_norm, FALSE FROM n WHERE doc_id % 10 = 3
), c AS (
  SELECT dedup_key,
    coalesce(min(doc_id) FILTER (WHERE selfc), min(doc_id)) AS keep_id
  FROM k GROUP BY 1
)
SELECT doc_id, dedup_key, keep_id, doc_id = keep_id AS is_canonical
FROM k JOIN c USING (dedup_key)"""
  }

  /** Transitive-canonical oracle (mirrors
    * graft.ops.UrlOps.webUrlCanonicalChain): the fixpoint is stated in
    * CLOSED FORM from the fixture residues — the chain copies (mirror →
    * synd → original) both key on the ORIGINAL's url_norm, the hostile
    * thief keys there too but the self-canonical keeper preference elects
    * the original over the thief's smaller id, and the loop pair breaks
    * onto the cycle's min norm (loop-a's) — while the engine must earn
    * every key through real extraction + RFC 3986 resolution +
    * normalization + the bounded pointer-chase iteration. `selfc` marks
    * the one declarer whose own norm IS the key (the keeper-election
    * input); keep_id = min selfc id, falling back to plain min. */
  lazy val webUrlCanonicalChain: String = {
    val pages = s"SELECT doc_id, url FROM (${urlPagesOver("documents")})"
    s"""WITH n AS (
  ${urlNormCols(s"SELECT doc_id, url FROM ($pages)")}
), k AS (
  SELECT doc_id, url_norm AS dedup_key, TRUE AS selfc FROM n
  UNION ALL
  SELECT doc_id + 20000000, url_norm, FALSE FROM n WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 30000000, url_norm, FALSE FROM n WHERE doc_id % 10 = 0
  UNION ALL
  SELECT -doc_id - 1, url_norm, FALSE FROM n WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id + 40000000,
    'https://loop-a.example/p/' || CAST(doc_id AS VARCHAR), TRUE
  FROM n WHERE doc_id % 20 = 10
  UNION ALL
  SELECT doc_id + 50000000,
    'https://loop-a.example/p/' || CAST(doc_id AS VARCHAR), FALSE
  FROM n WHERE doc_id % 20 = 10
), c AS (
  SELECT dedup_key,
    coalesce(min(doc_id) FILTER (WHERE selfc), min(doc_id)) AS keep_id
  FROM k GROUP BY 1
)
SELECT doc_id, dedup_key, keep_id, doc_id = keep_id AS is_canonical
FROM k JOIN c USING (dedup_key)"""
  }

  /** PII-scrub oracle (mirrors graft.ops.TextAnalysis.textPiiScrub): the
    * decoration is stated closed-form from the residue recipe, and the
    * scrub itself is the same three patterns in the SAME fixed order
    * (email → phone → ip; each count taken on the text the previous pass
    * left) — the regexes live in the regex subset Java and RE2 interpret
    * identically, so the redacted text is byte-exact across engines. */
  val textPiiScrub: String = {
    val email = graft.ops.TextAnalysis.PiiEmailRe
    val phone = graft.ops.TextAnalysis.PiiPhoneRe
    val ip = graft.ops.TextAnalysis.PiiIpRe
    s"""WITH p AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 7 = 6 THEN '' ELSE
      (CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
                 '@example.com for details'
            WHEN doc_id % 3 = 1
            THEN ' call 555-' ||
                 lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-' ||
                 lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0') ||
                 ' now'
            ELSE ' server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
                 CAST(doc_id % 250 AS VARCHAR) || '.' ||
                 CAST(doc_id % 200 AS VARCHAR) || ' responded' END) ||
      (CASE WHEN doc_id % 5 = 0
            THEN ' cc admin' || CAST(doc_id % 10 AS VARCHAR) || '@site.org'
            ELSE '' END)
    END AS text
  FROM documents
), s1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_emails,
    regexp_replace(text, '$email', '|||EMAIL_ADDRESS|||', 'g') AS t1
  FROM p
), s2 AS (
  SELECT doc_id, n_emails,
    CAST(len(regexp_extract_all(t1, '$phone')) AS INT) AS n_phones,
    regexp_replace(t1, '$phone', '|||PHONE_NUMBER|||', 'g') AS t2
  FROM s1
)
SELECT doc_id, n_emails, n_phones,
  CAST(len(regexp_extract_all(t2, '$ip')) AS INT) AS n_ips,
  regexp_replace(t2, '$ip', '|||IP_ADDRESS|||', 'g') AS text_scrubbed
FROM s2"""
  }

  /** The decorated custom-witness corpus `(doc_id, text)` — the
    * [[textPiiScrubCustom]] CTE stack factored so [[textPiiAudit]]
    * layers its truncation witness on the SAME closed form. */
  private val piiCustomDocsSql: String = s"""WITH p0 AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 7 = 6 THEN '' ELSE
      (CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
                 '@example.com for details'
            WHEN doc_id % 3 = 1
            THEN ' call 555-' ||
                 lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-' ||
                 lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0') ||
                 ' now'
            ELSE ' server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
                 CAST(doc_id % 250 AS VARCHAR) || '.' ||
                 CAST(doc_id % 200 AS VARCHAR) || ' responded' END) ||
      (CASE WHEN doc_id % 5 = 0
            THEN ' cc admin' || CAST(doc_id % 10 AS VARCHAR) || '@site.org'
            ELSE '' END)
    END AS text
  FROM documents
), p AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 11 = 4
         THEN ' ssn ' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 90 + 10 AS VARCHAR), 2, '0')
              || '-' || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0')
         WHEN doc_id % 11 = 7
         THEN ' verify ' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 90 + 10 AS VARCHAR), 2, '0')
              || '-' || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0')
              || '@relay.net soon'
         ELSE '' END AS text
  FROM p0
)
SELECT doc_id, text FROM p"""

  /** Custom-category PII oracle (mirrors
    * graft.ops.TextAnalysis.textPiiScrubCustom): the base decoration plus
    * the SSN witnesses (`% 11 == 4` a real SSN shape; `% 11 == 7` an
    * SSN-shaped EMAIL local part — consumed by the email pass, so the SSN
    * count on the text that pass left must be 0), scrubbed in the same
    * fixed order with the custom category appended after IP. */
  val textPiiScrubCustom: String = {
    val email = graft.ops.TextAnalysis.PiiEmailRe
    val phone = graft.ops.TextAnalysis.PiiPhoneRe
    val ip = graft.ops.TextAnalysis.PiiIpRe
    val ssn = graft.ops.TextAnalysis.PiiSsnRe
    s"""WITH p AS ($piiCustomDocsSql
), s1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_emails,
    regexp_replace(text, '$email', '|||EMAIL_ADDRESS|||', 'g') AS t1
  FROM p
), s2 AS (
  SELECT doc_id, n_emails,
    CAST(len(regexp_extract_all(t1, '$phone')) AS INT) AS n_phones,
    regexp_replace(t1, '$phone', '|||PHONE_NUMBER|||', 'g') AS t2
  FROM s1
), s3 AS (
  SELECT doc_id, n_emails, n_phones,
    CAST(len(regexp_extract_all(t2, '$ip')) AS INT) AS n_ips,
    regexp_replace(t2, '$ip', '|||IP_ADDRESS|||', 'g') AS t3
  FROM s2
)
SELECT doc_id, n_emails, n_phones, n_ips,
  CAST(len(regexp_extract_all(t3, '$ssn')) AS INT) AS n_ssns,
  regexp_replace(t3, '$ssn', '|||SSN|||', 'g') AS text_scrubbed
FROM s3"""
  }

  /** Governance-report oracle (mirrors
    * graft.ops.TextAnalysis.textPiiAudit): the custom-witness corpus
    * plus the `% 13 == 2` email stacks, scrubbed in the fixed order with
    * per-category K=2 sample slices — each `x_` column is the first two
    * matches of THAT pass's input text, `'|'`-joined (`''` when the pass
    * matched nothing), so a consumed SSN-shaped email local part samples
    * under `x_emails` and never `x_ssns`, and a four-email stack shows
    * exactly the first two while `n_emails` counts all. */
  val textPiiAudit: String = {
    val email = graft.ops.TextAnalysis.PiiEmailRe
    val phone = graft.ops.TextAnalysis.PiiPhoneRe
    val ip = graft.ops.TextAnalysis.PiiIpRe
    val ssn = graft.ops.TextAnalysis.PiiSsnRe
    s"""WITH pc AS ($piiCustomDocsSql
), pa AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 13 = 2
         THEN ' also alt' || CAST(doc_id AS VARCHAR) ||
              '@alt.example and alt' || CAST(doc_id AS VARCHAR) ||
              'b@alt2.example'
         ELSE '' END AS text
  FROM pc
), s1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_emails,
    coalesce(array_to_string(
        list_slice(regexp_extract_all(text, '$email'), 1, 2), '|'), '')
      AS x_emails,
    regexp_replace(text, '$email', '|||EMAIL_ADDRESS|||', 'g') AS t1
  FROM pa
), s2 AS (
  SELECT doc_id, n_emails, x_emails,
    CAST(len(regexp_extract_all(t1, '$phone')) AS INT) AS n_phones,
    coalesce(array_to_string(
        list_slice(regexp_extract_all(t1, '$phone'), 1, 2), '|'), '')
      AS x_phones,
    regexp_replace(t1, '$phone', '|||PHONE_NUMBER|||', 'g') AS t2
  FROM s1
), s3 AS (
  SELECT doc_id, n_emails, x_emails, n_phones, x_phones,
    CAST(len(regexp_extract_all(t2, '$ip')) AS INT) AS n_ips,
    coalesce(array_to_string(
        list_slice(regexp_extract_all(t2, '$ip'), 1, 2), '|'), '')
      AS x_ips,
    regexp_replace(t2, '$ip', '|||IP_ADDRESS|||', 'g') AS t3
  FROM s2
)
SELECT doc_id, n_emails, n_phones, n_ips,
  CAST(len(regexp_extract_all(t3, '$ssn')) AS INT) AS n_ssns,
  x_emails, x_phones, x_ips,
  coalesce(array_to_string(
      list_slice(regexp_extract_all(t3, '$ssn'), 1, 2), '|'), '')
    AS x_ssns,
  regexp_replace(t3, '$ssn', '|||SSN|||', 'g') AS text_scrubbed
FROM s3"""
  }

  /** Crawl-trap oracle (mirrors graft.ops.Robots.webCrawlTraps): the
    * frontier's distinct locations grouped by (domain, first path
    * segment) with the share and the >8 flag — integer-exact counts, and
    * the share is one IEEE double division of exact integers on both
    * engines. */
  // lazy: declared above webFrontier, whose init this interpolates
  lazy val webCrawlTraps: String = s"""WITH wf AS MATERIALIZED ($webFrontier),
per AS MATERIALIZED (
  SELECT registered_domain,
    regexp_extract(path, '^(/[^/]*)', 1) AS path_prefix,
    CAST(count(*) AS BIGINT) AS n_urls
  FROM wf GROUP BY 1, 2
), tot AS (
  SELECT registered_domain, sum(n_urls) AS domain_urls FROM per GROUP BY 1
)
SELECT registered_domain, path_prefix, n_urls,
  CAST(n_urls AS DOUBLE) / domain_urls AS prefix_share,
  n_urls > 8 AS is_trap
FROM per JOIN tot USING (registered_domain)"""

  /** Depth-2 crawl-trap oracle (mirrors
    * graft.ops.Robots.webCrawlTrapsDeep): the frontier surface plus the
    * closed-form calendar decoration (`/cal/2026/<id>` on ids % 3 ≠ 2,
    * `/cal/about/<id>` on % 3 == 2, each on the page's own registered
    * domain), grouped by the first TWO path segments — the `{1,2}` greedy
    * repeat groups shallower paths on their whole selves, exactly as the
    * engine's depth parameter renders it. */
  lazy val webCrawlTrapsDeep: String = s"""WITH wf AS MATERIALIZED ($webFrontier),
cal AS MATERIALIZED (
  SELECT registered_domain,
    '/cal/' || (CASE WHEN doc_id % 3 = 2 THEN 'about/' ELSE '2026/' END) ||
      CAST(doc_id AS VARCHAR) AS path
  FROM (${urlParsedOver(urlPagesOver("documents"))})
), uni AS MATERIALIZED (
  SELECT registered_domain, path FROM wf
  UNION ALL
  SELECT registered_domain, path FROM cal
), per AS MATERIALIZED (
  SELECT registered_domain,
    regexp_extract(path, '^((?:/[^/]*){1,2})', 1) AS path_prefix,
    CAST(count(*) AS BIGINT) AS n_urls
  FROM uni GROUP BY 1, 2
), tot AS (
  SELECT registered_domain, sum(n_urls) AS domain_urls FROM per GROUP BY 1
)
SELECT registered_domain, path_prefix, n_urls,
  CAST(n_urls AS DOUBLE) / domain_urls AS prefix_share,
  n_urls > 8 AS is_trap
FROM per JOIN tot USING (registered_domain)"""

  /** Hierarchical trap-localization oracle (mirrors
    * graft.ops.Robots.webCrawlTrapsHier): the deep-trap surface drilled
    * to the fixture's three unrolled levels — level 1 the full
    * first-segment report; levels 2–3 the top-5 children (by count,
    * ties on the prefix) of each flagged parent, restricted to flagged
    * subtrees; `trap_localized` = flagged with no flagged reported
    * child (level 3, the budget edge, localizes on its own flag). The
    * engine must reach the same cuts through its level loop, semi-join
    * restriction, and windowed top-K. */
  lazy val webCrawlTrapsHier: String = s"""WITH wf AS MATERIALIZED ($webFrontier),
cal AS MATERIALIZED (
  SELECT registered_domain,
    '/cal/' || (CASE WHEN doc_id % 3 = 2 THEN 'about/' ELSE '2026/' END) ||
      CAST(doc_id AS VARCHAR) AS path
  FROM (${urlParsedOver(urlPagesOver("documents"))})
), uni AS MATERIALIZED (
  SELECT registered_domain, path FROM wf
  UNION ALL
  SELECT registered_domain, path FROM cal
), tot AS MATERIALIZED (
  SELECT registered_domain, count(*) AS domain_urls FROM uni GROUP BY 1
), l1 AS MATERIALIZED (
  SELECT registered_domain,
    regexp_extract(path, '^((?:/[^/]*){1,1})', 1) AS path_prefix,
    CAST(count(*) AS BIGINT) AS n_urls
  FROM uni GROUP BY 1, 2
), l2a AS MATERIALIZED (
  SELECT registered_domain,
    regexp_extract(path, '^((?:/[^/]*){1,2})', 1) AS path_prefix,
    regexp_extract(path, '^((?:/[^/]*){1,1})', 1) AS parent,
    CAST(count(*) AS BIGINT) AS n_urls
  FROM uni GROUP BY 1, 2, 3
), l2r AS MATERIALIZED (
  SELECT a.*, row_number() OVER (PARTITION BY a.registered_domain, a.parent
      ORDER BY a.n_urls DESC, a.path_prefix) AS rk
  FROM l2a a JOIN (SELECT registered_domain, path_prefix FROM l1
                   WHERE n_urls > 8) f1
    ON a.registered_domain = f1.registered_domain
   AND a.parent = f1.path_prefix
), l2 AS MATERIALIZED (
  SELECT registered_domain, path_prefix, parent, n_urls FROM l2r
  WHERE rk <= 5
), l3a AS MATERIALIZED (
  SELECT registered_domain,
    regexp_extract(path, '^((?:/[^/]*){1,3})', 1) AS path_prefix,
    regexp_extract(path, '^((?:/[^/]*){1,2})', 1) AS parent,
    CAST(count(*) AS BIGINT) AS n_urls
  FROM uni GROUP BY 1, 2, 3
), l3r AS MATERIALIZED (
  SELECT a.*, row_number() OVER (PARTITION BY a.registered_domain, a.parent
      ORDER BY a.n_urls DESC, a.path_prefix) AS rk
  FROM l3a a JOIN (SELECT registered_domain, path_prefix FROM l2
                   WHERE n_urls > 8) f2
    ON a.registered_domain = f2.registered_domain
   AND a.parent = f2.path_prefix
), l3 AS MATERIALIZED (
  SELECT registered_domain, path_prefix, parent, n_urls FROM l3r
  WHERE rk <= 5
), f2p AS MATERIALIZED (
  SELECT DISTINCT registered_domain, parent FROM l2 WHERE n_urls > 8
), f3p AS MATERIALIZED (
  SELECT DISTINCT registered_domain, parent FROM l3 WHERE n_urls > 8
)
SELECT l.registered_domain, l.path_prefix, CAST(1 AS INT) AS depth,
  l.n_urls, CAST(l.n_urls AS DOUBLE) / t.domain_urls AS prefix_share,
  l.n_urls > 8 AS is_trap,
  l.n_urls > 8 AND f.parent IS NULL AS trap_localized
FROM l1 l JOIN tot t USING (registered_domain)
LEFT JOIN f2p f ON l.registered_domain = f.registered_domain
               AND l.path_prefix = f.parent
UNION ALL
SELECT l.registered_domain, l.path_prefix, CAST(2 AS INT), l.n_urls,
  CAST(l.n_urls AS DOUBLE) / t.domain_urls,
  l.n_urls > 8,
  l.n_urls > 8 AND f.parent IS NULL
FROM l2 l JOIN tot t USING (registered_domain)
LEFT JOIN f3p f ON l.registered_domain = f.registered_domain
               AND l.path_prefix = f.parent
UNION ALL
SELECT l.registered_domain, l.path_prefix, CAST(3 AS INT), l.n_urls,
  CAST(l.n_urls AS DOUBLE) / t.domain_urls,
  l.n_urls > 8,
  l.n_urls > 8
FROM l3 l JOIN tot t USING (registered_domain)"""

  /** Trap-cap application oracle (mirrors graft.ops.Robots.webCrawlCaps):
    * the hierarchical report's LOCALIZED prefixes applied back onto the
    * same url_norm-bearing surface — governing match stated as the
    * segment-boundary prefix predicate (exactly one localized trap can
    * govern a row: localized traps cannot nest), lane ranks by url_norm
    * within (domain, trap_prefix), kept = ungoverned or rank ≤ 8. The
    * engine must reach the same lanes through its broadcast match +
    * governed-only window. */
  lazy val webCrawlCaps: String = s"""WITH capsuni AS MATERIALIZED (
  SELECT url_norm, registered_domain, path FROM ($webFrontier)
  UNION ALL
  SELECT 'https://' || registered_domain || path, registered_domain, path
  FROM (
    SELECT registered_domain,
      '/cal/' || (CASE WHEN doc_id % 3 = 2 THEN 'about/' ELSE '2026/' END)
        || CAST(doc_id AS VARCHAR) AS path
    FROM (${urlParsedOver(urlPagesOver("documents"))}))
), capsloc AS MATERIALIZED (
  SELECT registered_domain, path_prefix AS trap_prefix
  FROM ($webCrawlTrapsHier) WHERE trap_localized
), capsg AS (
  SELECT u.url_norm, u.registered_domain, u.path, l.trap_prefix
  FROM capsuni u LEFT JOIN capsloc l
    ON u.registered_domain = l.registered_domain
   AND (u.path = l.trap_prefix OR
        starts_with(u.path, l.trap_prefix || '/'))
), capsr AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY registered_domain,
      trap_prefix ORDER BY url_norm) AS INT) AS rn
  FROM capsg
)
SELECT url_norm, registered_domain, path, trap_prefix,
  CASE WHEN trap_prefix IS NULL THEN NULL ELSE rn END AS capped_rank,
  (trap_prefix IS NULL OR rn <= 8) AS kept
FROM capsr"""

  /** Crawl-budget oracle (mirrors graft.ops.Robots.webCrawlBudget):
    * per-domain allowed-page count × governing crawl delay, built on the
    * webRobots decision subquery so both engines derive the gate the same
    * way. */
  val webCrawlBudget: String = s"""WITH wr AS ($webRobots)
SELECT registered_domain,
  CAST(count(*) FILTER (WHERE robots_allowed) AS BIGINT) AS n_allowed,
  max(crawl_delay) AS crawl_delay,
  CAST(count(*) FILTER (WHERE robots_allowed) *
    greatest(coalesce(max(crawl_delay), 1), 1) AS BIGINT)
    AS est_fetch_seconds
FROM wr GROUP BY registered_domain"""

  /** Politeness-schedule oracle (mirrors graft.ops.Robots.webCrawlSchedule):
    * allowed pages sequence per domain in doc_id order; earliest fetch
    * offset = (seq-1) x max(delay, 1 s). Built on the webRobots decision
    * subquery like the budget oracle. */
  val webCrawlSchedule: String = s"""WITH wr AS ($webRobots)
SELECT registered_domain, doc_id, url,
  CAST(row_number() OVER (PARTITION BY registered_domain ORDER BY doc_id)
    AS INT) AS fetch_seq,
  CAST((row_number() OVER (PARTITION BY registered_domain ORDER BY doc_id)
    - 1) * greatest(coalesce(crawl_delay, 1), 1) AS BIGINT) AS fetch_at_s
FROM wr WHERE robots_allowed"""

  /** The [[urlParsedOver]] normalization with ARBITRARY columns carried
    * through (mirrors graft.ops.UrlOps.parseNormalize applied as a
    * column): adds `registered_domain`, normalized `path`, and `url_norm`
    * to whatever `src` selects (which must carry `url` and no conflicting
    * names). The frontier oracles need src/lastmod riding along, which
    * the fixed-column variant drops. */
  private def urlNormCols(src: String): String = s"""WITH fn_in AS (
  SELECT * FROM ($src)
), fn_hp AS (
  SELECT *, regexp_replace(regexp_extract(url,
    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^[^/@]*@', '') AS __hp
  FROM fn_in
), fn_p AS (
  SELECT *,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS __scheme,
    CASE WHEN __hp LIKE '[%'
         THEN '[' || lower(regexp_extract(__hp, '^\\[([^\\]]*)\\]', 1)) || ']'
         ELSE lower(regexp_extract(__hp, '^([^:]*)', 1)) END AS __rawhost,
    CASE WHEN __hp LIKE '[%'
         THEN regexp_extract(__hp, '^\\[[^\\]]*\\]:([0-9]+)$$', 1)
         ELSE regexp_extract(__hp, ':([0-9]+)$$', 1) END AS __portstr,
    regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS __rawpath,
    regexp_extract(url, '\\?([^#]*)', 1) AS __q
  FROM fn_hp
), fn_n AS (
  SELECT *,
    regexp_replace(__rawhost, '^www\\.', '') AS __host,
    CASE WHEN __portstr = '' THEN NULL ELSE CAST(__portstr AS INT) END AS __port,
    CASE WHEN __rawpath = '' THEN '/' ELSE __rawpath END AS __path,
    list_filter(string_split(__q, '&'), p ->
      NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=.*)?$$')
      AND p <> '') AS __kp
  FROM fn_p
), fn_rd AS (
  SELECT *,
    CASE WHEN __host LIKE '[%' THEN __host
         WHEN len(__labels) <= 2 THEN __host
         WHEN __labels[-2] || '.' || __labels[-1] IN
             ('co.uk','org.uk','ac.uk','com.au','co.jp','com.br','co.in')
           AND len(__labels) >= 3
           THEN __labels[-3] || '.' || __labels[-2] || '.' || __labels[-1]
         ELSE __labels[-2] || '.' || __labels[-1] END AS registered_domain
  FROM (SELECT *, string_split(__host, '.') AS __labels FROM fn_n)
)
SELECT * EXCLUDE (__hp, __scheme, __rawhost, __portstr, __rawpath, __q,
    __host, __port, __path, __kp, __labels),
  __path AS path,
  __scheme || '://' || __host ||
  (CASE WHEN __port IS NULL OR (__scheme = 'http' AND __port = 80)
        OR (__scheme = 'https' AND __port = 443) THEN ''
        ELSE ':' || CAST(__port AS VARCHAR) END) || __path ||
  (CASE WHEN len(__kp) > 0 THEN '?' || array_to_string(__kp, '&')
        ELSE '' END) AS url_norm
FROM fn_rd"""

  /** The frontier's unioned URL surface: corpus pages, the sitemap tree's
    * discovered pages ([[webSitemapDocs]]'s closed form), and the
    * relisting sitemap's decorated corpus aliases (mirrors
    * graft.ops.Robots.relistSitemapXml: doc_id % 20 == 10 pages with
    * uppercased scheme + '#relist' fragment — normalization-identical to
    * their corpus URLs — and lastmod 2026-03-((doc_id % 28) + 1)). */
  // the rendered corpus URL surface is shared by two union branches —
  // declared once as a MATERIALIZED CTE (r16): DuckDB inlines plain CTEs
  // at every reference, so the repeated-fixture pyramids of the composed
  // web oracles re-planned and re-evaluated the same rendered surface
  // once per reference per nesting level — the driver's single-process
  // gate accumulated GBs and OOM'd on the web family (7 no-verdict
  // queries in CORRECTNESS_r15). MATERIALIZED evaluates once per
  // statement; results are unchanged (measured row-identical, and e.g.
  // web_crawl_traps_hier dropped 52.6 s/1.8 GB → 3.2 s/0.3 GB at sf0.01).
  private val frontierUnionCtes: String =
    s"""fup AS MATERIALIZED (${urlPagesOver("documents")}),
"""
  private val frontierUnion: String = s"""
SELECT doc_id, url, CAST(NULL AS VARCHAR) AS lastmod, 'corpus' AS src
FROM fup
UNION ALL
SELECT CAST(NULL AS BIGINT), loc, lastmod, 'sitemap'
FROM ($webSitemapDocs)
UNION ALL
SELECT CAST(NULL AS BIGINT),
  'HTTPS' || regexp_replace(substr(url, 6), '#.*$$', '#relist'),
  '2026-03-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0'),
  'sitemap'
FROM fup WHERE doc_id % 20 = 10"""

  /** Crawl-frontier oracle (mirrors graft.ops.Robots.webFrontier): the
    * unioned URL surface collapses per url_norm (min corpus URL as the
    * representative — else min of the discovery spellings; min corpus
    * doc_id; provenance = the sorted '+'-joined source set; max lastmod),
    * then the generative robots decision applies per normalized path. The
    * engine must reach these rows through the real XML parses, the
    * url_norm collapse, and the robots render→parse→decide round trip. */
  val webFrontier: String = frontierSqlOver(frontierUnion)

  /** [[webFrontier]] plus the LINK discovery surface (mirrors
    * graft.ops.Robots.webFrontierLinks): the outlink oracle's resolved
    * links union in as src='link' rows with no doc_id and no freshness
    * claim. */
  val webFrontierLinks: String = frontierSqlOver(frontierUnion + s"""
UNION ALL
SELECT CAST(NULL AS BIGINT), link, CAST(NULL AS VARCHAR), 'link'
FROM fol""",
    extraCtes = frontierUnionCtes +
      s"""fol AS MATERIALIZED ($webOutlinks),
""")

  /** The closed-form gate for the STREAM-discovered surface (what the
    * real durable frontier table contains): the referrer page must pass
    * the page-URL hygiene gate and be robots-allowed; the target must
    * pass the link-hygiene gate. Shared by [[webFrontierUnified]] (the
    * `'discovered'` union branch) and [[webFrontierHopsKnown]] (the
    * `known` suppression set) so the two statements cannot drift. */
  private val discoveredWhere: String = s"""wr.robots_allowed
  AND wr.registered_domain <> 'spam-mirror.net'
  AND NOT regexp_matches(lower(wr.path || ' ' ||
        regexp_extract(wr.url, '\\?([^#]*)', 1)), '(casino|viagra|porn|xxx)')
  AND length(wr.url) <= 200
  AND NOT regexp_matches(lower(ol.link_raw), '(casino|viagra|porn|xxx)')
  AND length(ol.link) <= 200"""

  /** Unified-frontier oracle (mirrors graft.ops.Robots.webFrontierUnified):
    * the four-source collapse. The `'discovered'` surface — what the REAL
    * streaming run's durable table contains — is stated in closed form as
    * the gated pages' gated links: referrer pages must pass the page-URL
    * hygiene gate (not blocked/spam/over-length — exactly
    * UrlOps.filterReason, which is also why the path-only `robots_allowed`
    * restatement below matches the stream's path+query gate: every
    * query-sensitive rule in the render recipe anchors on `-padding$` or
    * `/casino-bonus/`, and those pages all die at the hygiene gate before
    * robots is consulted) AND be robots-allowed; targets mirror the
    * stream's link-hygiene gate. The first-seen state collapses each
    * location to ONE stored row whose `url` is some referrer's link
    * spelling — a member of the batch `'link'` spelling set, so the
    * group's `min(url)` representative is unchanged by which referrer the
    * stream happened to see first, and the whole statement stays
    * closed-form. */
  val webFrontierUnified: String = frontierSqlOver(frontierUnion + s"""
UNION ALL
SELECT CAST(NULL AS BIGINT), link, CAST(NULL AS VARCHAR), 'link'
FROM fol
UNION ALL
SELECT CAST(NULL AS BIGINT), ol.link, CAST(NULL AS VARCHAR), 'discovered'
FROM fol ol JOIN fwr wr ON ol.doc_id = wr.doc_id
WHERE $discoveredWhere""",
    extraCtes = frontierUnionCtes +
      s"""fol AS MATERIALIZED ($webOutlinks),
fwr AS MATERIALIZED ($webRobots),
""")

  /** Multi-hop frontier oracle (mirrors graft.ops.Robots.webFrontierHops):
    * hop 0 is the frontier itself; hops 1–3 are the chain fixture's
    * closure stated in CLOSED FORM — every robots-allowed frontier row's
    * rendered page links to `/chain/0` on its own origin and each
    * `/chain/<n>` page links one deeper, so hop k holds exactly one
    * `/chain/<k-1>` row per DISTINCT ORIGIN among allowed rows (origin =
    * scheme + host + kept port: root-relative resolution keys on the full
    * origin, not the registered domain), re-normalized and robots-decided
    * by the same generative recipe, provenance 'link', no doc_id, no
    * freshness claim. The engine must earn every row through its real
    * fetch→extract→resolve→collapse→anti-join→gate iteration, with the
    * maxHops=3 budget ending the unbounded chain.
    *
    * Recipe invariant this closed form leans on: NO robots render rule
    * matches a `/chain/` path (the recipe's disallows are
    * /casino-bonus/, /de/, /private/ and the `*-padding$` wildcard), so
    * every chain row is allowed and the engine descends the full hop
    * series for every origin — if a future recipe change introduced a
    * rule matching /chain/, the engine would correctly stop descending
    * at the disallowed row and THIS oracle would need the same
    * conditional. */
  val webFrontierHops: String = s"""WITH wf AS MATERIALIZED ($webFrontier),
origins AS MATERIALIZED (
  SELECT DISTINCT regexp_extract(url_norm,
    '^[a-z][a-z0-9+.-]*://[^/]+', 0) AS origin
  FROM wf WHERE robots_allowed
), chain AS (
  SELECT origin || '/chain/' || CAST(n AS VARCHAR) AS url, n
  FROM origins CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS n) ns
), cn AS (
  ${urlNormCols("SELECT url, n FROM chain")}
)
SELECT url_norm, url, registered_domain, path,
  CAST(NULL AS BIGINT) AS doc_id, 'link' AS provenance,
  CAST(NULL AS VARCHAR) AS lastmod,
  $robotsDecisionCols,
  CAST(n + 1 AS INT) AS hop
FROM (SELECT *, length(registered_domain) AS l FROM cn
      -- the target URL-hygiene gate (UrlOps.filterReason, the same gate
      -- the streaming twin applies): a blocked-domain / spam-path /
      -- over-length DISCOVERY never enters the frontier - on the chain
      -- fixture only the blocklist rule can fire (spam-mirror origins)
      WHERE registered_domain <> 'spam-mirror.net'
        AND NOT regexp_matches(lower(path), '(casino|viagra|porn|xxx)')
        AND length(url) <= 200)
UNION ALL
SELECT url_norm, url, registered_domain, path, doc_id, provenance, lastmod,
  robots_allowed, robots_rule, crawl_delay, 0 AS hop
FROM wf"""

  /** Known-suppressed expansion oracle (mirrors
    * graft.ops.Robots.webFrontierHopsKnown): hop 0 is the frontier; hop
    * 1 is the fixture fetcher's two anchors per DISTINCT allowed origin
    * — `/chain/0` always, `/tags` only where the closed-form discovered
    * set (the stream run's durable table, [[discoveredWhere]] — the
    * same statement the unified-frontier oracle gates on) does NOT
    * already hold it — minus frontier norms, target-hygiene-gated,
    * robots-decided generatively. Hop 2 exists in neither relation: the
    * fixture's fixpoint. The engine must earn the reduced closure
    * through the real iteration over the real read-back table. */
  lazy val webFrontierHopsKnown: String = s"""WITH wf AS MATERIALIZED ($webFrontier),
known AS MATERIALIZED (
  SELECT DISTINCT url_norm FROM (
    ${urlNormCols(s"""SELECT ol.link AS url
FROM ($webOutlinks) ol JOIN ($webRobots) wr ON ol.doc_id = wr.doc_id
WHERE $discoveredWhere""")})
), origins AS (
  SELECT DISTINCT regexp_extract(url_norm,
    '^[a-z][a-z0-9+.-]*://[^/]+', 0) AS origin
  FROM wf WHERE robots_allowed
), cand AS (
  SELECT origin || s AS url FROM origins
  CROSS JOIN (SELECT unnest(['/tags', '/chain/0']) AS s) ss
), cn AS (
  ${urlNormCols("SELECT url FROM cand")}
)
SELECT url_norm, url, registered_domain, path,
  CAST(NULL AS BIGINT) AS doc_id, 'link' AS provenance,
  CAST(NULL AS VARCHAR) AS lastmod,
  $robotsDecisionCols,
  CAST(1 AS INT) AS hop
FROM (SELECT *, length(registered_domain) AS l FROM cn
      WHERE url_norm NOT IN (SELECT url_norm FROM wf)
        AND url_norm NOT IN (SELECT url_norm FROM known)
        AND registered_domain <> 'spam-mirror.net'
        AND NOT regexp_matches(lower(path), '(casino|viagra|porn|xxx)')
        AND length(url) <= 200)
UNION ALL
SELECT url_norm, url, registered_domain, path, doc_id, provenance, lastmod,
  robots_allowed, robots_rule, crawl_delay, 0 AS hop
FROM wf"""

  /** The frontier collapse + robots decision over a unioned
    * `(doc_id, url, lastmod, src)` URL surface. */
  private def frontierSqlOver(union: String,
      extraCtes: String = frontierUnionCtes): String = s"""WITH ${extraCtes}fp AS MATERIALIZED (
  ${urlNormCols(union)}
), fr AS (
  SELECT url_norm,
    coalesce(min(url) FILTER (WHERE src = 'corpus'), min(url)) AS url,
    min(registered_domain) AS registered_domain,
    min(path) AS path,
    min(doc_id) AS doc_id,
    array_to_string(list_sort(list_distinct(list(src))), '+') AS provenance,
    max(lastmod) AS lastmod
  FROM fp GROUP BY url_norm
)
SELECT url_norm, url, registered_domain, path, doc_id, provenance, lastmod,
  $robotsDecisionCols
FROM (SELECT *, length(registered_domain) AS l FROM fr)"""

  /** Freshness-recrawl oracle (mirrors graft.ops.Robots.webRecrawl): the
    * frontier left-joins the fixture fetch history (every corpus url_norm
    * last crawled 2026-03-15) and the snapshot-diff-changed domains
    * (old = doc_id % 10 <> 3, new = <> 7; digests added/changed → new-
    * snapshot docs → domains), takes the 5-level priority (0 changed
    * page, 1 never crawled, 2 no signal + changed domain, 3 no signal,
    * 4 unchanged page), and schedules allowed rows per domain lane
    * ordered by (priority, doc_id NULLS LAST, url_norm). */
  val webRecrawl: String = recrawlSqlOver(webFrontier)

  /** [[webRecrawl]] over the UNIFIED four-source frontier (mirrors
    * graft.ops.Robots.webRecrawlUnified): the same priority ladder and
    * lane arithmetic applied to the [[webFrontierUnified]] collapse —
    * stream-discovered rows carry no fetch history and no lastmod, so
    * they rank 1 (never crawled) or 2/3 by the domain signal, in the
    * same per-domain lanes as every corpus/sitemap/link row. */
  lazy val webRecrawlUnified: String = recrawlSqlOver(webFrontierUnified)

  /** The recrawl ranking + schedule over a frontier statement — ONE
    * place holds the priority ladder, fetch-history closed form, and
    * lane arithmetic for [[webRecrawl]] and [[webRecrawlUnified]]. */
  private def recrawlSqlOver(frontierSql: String): String =
    s"""WITH wf AS MATERIALIZED ($frontierSql),
lc AS MATERIALIZED (
  SELECT DISTINCT url_norm, '2026-03-15' AS last_crawled
  FROM (${urlParsedOver(urlPagesOver("documents"))})
), chgh AS (
  SELECT coalesce(o.h, n.h) AS h
  FROM (SELECT md5(text) AS h, count(*) AS c FROM documents
        WHERE doc_id % 10 <> 3 GROUP BY 1) o
  FULL JOIN (SELECT md5(text) AS h, count(*) AS c FROM documents
        WHERE doc_id % 10 <> 7 GROUP BY 1) n ON o.h = n.h
  WHERE o.h IS NULL OR (n.h IS NOT NULL AND o.c <> n.c)
), chgdom AS (
  SELECT DISTINCT registered_domain, TRUE AS __chg
  FROM (${urlParsedOver(urlPagesOver("documents"))})
  WHERE doc_id IN (
    SELECT doc_id FROM (SELECT doc_id, md5(text) AS h FROM documents
                        WHERE doc_id % 10 <> 7)
    WHERE h IN (SELECT h FROM chgh))
), pr AS (
  SELECT wf.*, lc.last_crawled, coalesce(cd.__chg, FALSE) AS domain_changed
  FROM wf LEFT JOIN lc USING (url_norm)
  LEFT JOIN chgdom cd USING (registered_domain)
), pp AS (
  SELECT *,
    CASE WHEN lastmod IS NOT NULL AND last_crawled IS NOT NULL
              AND lastmod > last_crawled THEN 0
         WHEN last_crawled IS NULL THEN 1
         WHEN lastmod IS NULL AND domain_changed THEN 2
         WHEN lastmod IS NULL THEN 3
         ELSE 4 END AS recrawl_priority
  FROM pr
)
SELECT registered_domain, url_norm, url, doc_id, provenance, lastmod,
  recrawl_priority, domain_changed,
  CAST(row_number() OVER (PARTITION BY registered_domain
    ORDER BY recrawl_priority, doc_id ASC NULLS LAST, url_norm)
    AS INT) AS fetch_seq,
  CAST((row_number() OVER (PARTITION BY registered_domain
    ORDER BY recrawl_priority, doc_id ASC NULLS LAST, url_norm) - 1) *
    greatest(coalesce(crawl_delay, 1), 1) AS BIGINT) AS fetch_at_s
FROM pp WHERE robots_allowed"""

  val webUrls: String = s"""SELECT doc_id, url, scheme, host, port, path,
  registered_domain, url_norm
FROM (${urlParsedOver(urlPagesOver("documents"))})"""

  /** URL gate oracle (mirrors graft.ops.UrlOps.webUrlFilter): blocklisted
    * registered domain, spam keyword in lowercased path+query, over-length
    * URL — first violation names the reason; kept rows say 'ok'. */
  val webUrlFilter: String = s"""WITH pp AS (
  SELECT doc_id, url, registered_domain,
    lower(path || ' ' || regexp_extract(url, '\\?([^#]*)', 1)) AS pq
  FROM (${urlParsedOver(urlPagesOver("documents"))})
), r AS (
  SELECT doc_id, url, registered_domain,
    CASE WHEN registered_domain IN ('spam-mirror.net') THEN 'blocked_domain'
         WHEN regexp_matches(pq, '(casino|viagra|porn|xxx)') THEN 'spam_path'
         WHEN length(url) > 200 THEN 'too_long'
         ELSE 'ok' END AS reason
  FROM pp
)
SELECT doc_id, url, registered_domain, reason = 'ok' AS keep, reason FROM r"""

  /** Per-registered-domain stats oracle (mirrors
    * graft.ops.UrlOps.webDomains): docs and whitespace tokens per domain
    * plus corpus shares. */
  val webDomains: String = s"""WITH per AS (
  SELECT registered_domain, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(CASE WHEN text = '' THEN 0
        ELSE len(string_split(text, ' ')) END) AS BIGINT) AS n_tokens
  FROM (${urlParsedOver(urlPagesOver("documents"))})
  GROUP BY registered_domain
), tot AS (
  SELECT sum(n_docs) AS td, sum(n_tokens) AS tt FROM per
)
SELECT registered_domain, n_docs, n_tokens,
  CAST(n_docs AS DOUBLE) / td AS doc_share,
  CAST(n_tokens AS DOUBLE) / tt AS token_share
FROM per, tot"""

  /** URL-dedup oracle (mirrors graft.ops.UrlOps.webUrlDedup): every 10th
    * doc gains a decorated alias (uppercased scheme, different fragment)
    * that must collapse onto its base via the normalized url. */
  val webUrlDedup: String = s"""WITH base AS (
  SELECT doc_id, url FROM (${urlPagesOver("documents")})
), mirrors AS (
  SELECT doc_id + 10000000 AS doc_id,
    regexp_replace(upper(regexp_extract(url, '^([a-z]+)', 1)) ||
      regexp_extract(url, '^[a-z]+(.*)$$', 1), '#.*$$', '#mirror') AS url
  FROM base WHERE doc_id % 10 = 0
), allu AS (
  SELECT * FROM base UNION ALL SELECT * FROM mirrors
), uu AS (
  SELECT doc_id, url_norm
  FROM (${urlParsedOver("SELECT doc_id, url, '' AS text FROM allu")})
), ucanon AS (
  SELECT url_norm, min(doc_id) AS keep_id FROM uu GROUP BY url_norm
)
SELECT uu.doc_id, uu.url_norm, ucanon.keep_id,
  uu.doc_id = ucanon.keep_id AS is_canonical
FROM uu JOIN ucanon USING (url_norm)"""

  /** Full crawl-to-shards oracle (mirrors graft.ops.Prep.prepWeb): URL
    * gate → URL-level exact dedup (min doc_id per normalized url of the
    * gated pages — the r9 stage; the fixture's rendered URLs are id-unique
    * so it is the identity HERE, with the alias-collapse semantics
    * witnessed by OpsSpec and the standalone web_url_dedup oracle) →
    * stage-zero extraction → corpus-level line dedup → the FineWeb chain
    * over the CLEANED text. The gate restates the urlFilter rules;
    * downstream stages re-root over each previous CTE. */
  /** WARC round-trip oracle (mirrors graft.ops.Warc.webWarc) — states the
    * EXPECTED record table directly from the generative render (URL + HTML
    * renderers shared with the other web oracles), so the engine's
    * Content-Length-driven parse of the concatenated files must be the
    * identity on every field. `strlen` is DuckDB's BYTE length, matching
    * Spark's `octet_length` (the spec's Content-Length unit). */
  val webWarc: String = s"""WITH up AS (
  SELECT doc_id, url FROM (${urlPagesOver("documents")})
), hp AS (
  SELECT doc_id, html FROM (${htmlPagesOver("documents")})
), resp AS (
  SELECT up.doc_id, up.doc_id // 25 AS warc_id, up.url, hp.html,
    '2026-01-' || lpad(CAST((up.doc_id % 28) + 1 AS VARCHAR), 2, '0')
      || 'T00:00:00Z' AS warc_date,
    'HTTP/1.1 200 OK' || chr(13)||chr(10) || 'Content-Type: text/html'
      || chr(13)||chr(10) || 'Content-Length: '
      || CAST(strlen(hp.html) AS VARCHAR)
      || chr(13)||chr(10)||chr(13)||chr(10) || hp.html AS payload
  FROM up JOIN hp USING (doc_id)
), infop AS (
  SELECT 'software: graft-fetch/1.0' || chr(13)||chr(10)
    || 'format: WARC File Format 1.0' AS p
), info AS (
  SELECT DISTINCT warc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
    CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS target_uri,
    '2026-01-01T00:00:00Z' AS warc_date,
    CAST(strlen((SELECT p FROM infop)) AS BIGINT) AS content_length,
    CAST(NULL AS INT) AS http_status,
    (SELECT p FROM infop) AS body
  FROM resp
), respout AS (
  SELECT warc_id,
    CAST(row_number() OVER (PARTITION BY warc_id ORDER BY doc_id) AS INT)
      AS rec_idx,
    'response' AS warc_type, doc_id, url AS target_uri, warc_date,
    CAST(strlen(payload) AS BIGINT) AS content_length,
    200 AS http_status, html AS body
  FROM resp
)
SELECT * FROM info UNION ALL SELECT * FROM respout"""

  /** prep_warc oracle: by the [[webWarc]] round-trip identity the
    * WARC-rooted pipeline must produce EXACTLY the [[prepWeb]] output —
    * so the oracle IS the prepWeb statement (the strongest possible
    * check: any parse/plumbing divergence breaks shard hashes). */
  def prepWarc: String = prepWeb

  /** web_wet oracle (mirrors graft.ops.Warc.webWet): the WET render →
    * parse round trip — conversion records whose payload is the page's
    * extracted text verbatim, no HTTP block, null http_status; one
    * warcinfo lead record per file. */
  val webWet: String = s"""WITH up AS (
  SELECT doc_id, url, text FROM (${urlPagesOver("documents")})
), conv0 AS (
  SELECT doc_id, doc_id // 25 AS warc_id, url, text,
    '2026-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
      || 'T00:00:00Z' AS warc_date
  FROM up
), infop AS (
  SELECT 'software: graft-fetch/1.0' || chr(13)||chr(10)
    || 'format: WARC File Format 1.0' AS p
), info AS (
  SELECT DISTINCT warc_id, 0 AS rec_idx, 'warcinfo' AS warc_type,
    CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS target_uri,
    '2026-01-01T00:00:00Z' AS warc_date,
    CAST(strlen((SELECT p FROM infop)) AS BIGINT) AS content_length,
    CAST(NULL AS INT) AS http_status,
    (SELECT p FROM infop) AS body
  FROM conv0
), convout AS (
  SELECT warc_id,
    CAST(row_number() OVER (PARTITION BY warc_id ORDER BY doc_id) AS INT)
      AS rec_idx,
    'conversion' AS warc_type, doc_id, url AS target_uri, warc_date,
    CAST(strlen(text) AS BIGINT) AS content_length,
    CAST(NULL AS INT) AS http_status, text AS body
  FROM conv0
)
SELECT * FROM info UNION ALL SELECT * FROM convout"""

  /** prep_wet oracle (mirrors graft.ops.Prep.prepWet): [[prepWeb]] minus
    * the extraction CTE — the WET producer already extracted, so the
    * URL-gated docs' RAW text feeds line dedup directly, then the same
    * FineWeb tail. */
  def prepWet: String = s"""WITH up AS (
  SELECT doc_id, url, url_norm, registered_domain, path
  FROM (${urlParsedOver(urlPagesOver("documents"))})
), gok AS (
  SELECT doc_id, url_norm FROM up
  WHERE NOT (registered_domain IN ('spam-mirror.net')
    OR regexp_matches(lower(path || ' ' ||
         regexp_extract(url, '\\?([^#]*)', 1)), '(casino|viagra|porn|xxx)')
    OR length(url) > 200)
), gids AS (
  SELECT min(doc_id) AS doc_id FROM gok GROUP BY url_norm
), gated AS (
  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
  FROM documents d JOIN gids USING (doc_id)
), ld AS MATERIALIZED (
  SELECT doc_id, cleaned_text
  FROM (${lineDedupOver("SELECT doc_id, text FROM gated")})
), clean AS MATERIALIZED (
  SELECT ld.doc_id, ld.cleaned_text AS text, gated.source
  FROM ld JOIN gated USING (doc_id)
), gph AS MATERIALIZED (
  SELECT doc_id FROM (${textGopherOver("clean")}) WHERE kept
), g AS MATERIALIZED (
  SELECT c.* FROM clean c JOIN gph USING (doc_id)
), nrm AS MATERIALIZED (
  SELECT doc_id,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      ' +', ' ', 'g'))) AS nh
  FROM g
), ncanon AS MATERIALIZED (
  SELECT min(doc_id) AS doc_id FROM nrm GROUP BY nh
), canon AS MATERIALIZED (
  SELECT g.* FROM g JOIN ncanon USING (doc_id)
), tfk AS MATERIALIZED (
  SELECT doc_id FROM (${textQualityTopFracOver("canon")}) WHERE kept
), selected AS MATERIALIZED (
  SELECT c.* FROM canon c JOIN tfk USING (doc_id)
), packed AS MATERIALIZED (
  SELECT * FROM (${textPackOver("selected")})
), sp AS MATERIALIZED (
  ${textSplitOver("selected")}
)
SELECT packed.doc_id, sp.split, packed.shard, packed.seq,
  packed.tok_offset, packed.n_tokens
FROM packed JOIN sp USING (doc_id)"""

  val prepWeb: String = s"""WITH up AS MATERIALIZED (
  SELECT doc_id, url, url_norm, registered_domain, path
  FROM (${urlParsedOver(urlPagesOver("documents"))})
), gok AS (
  SELECT doc_id, url_norm FROM up
  WHERE NOT (registered_domain IN ('spam-mirror.net')
    OR regexp_matches(lower(path || ' ' ||
         regexp_extract(url, '\\?([^#]*)', 1)), '(casino|viagra|porn|xxx)')
    OR length(url) > 200)
), gids AS (
  SELECT min(doc_id) AS doc_id FROM gok GROUP BY url_norm
), gated AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
  FROM documents d JOIN gids USING (doc_id)
), ext AS MATERIALIZED (
  SELECT doc_id, text, source FROM (${htmlExtractOver("gated")})
), ld AS MATERIALIZED (
  SELECT doc_id, cleaned_text
  FROM (${lineDedupOver("SELECT doc_id, text FROM ext")})
), clean AS MATERIALIZED (
  SELECT ld.doc_id, ld.cleaned_text AS text, ext.source
  FROM ld JOIN ext USING (doc_id)
), gph AS MATERIALIZED (
  SELECT doc_id FROM (${textGopherOver("clean")}) WHERE kept
), g AS MATERIALIZED (
  SELECT c.* FROM clean c JOIN gph USING (doc_id)
), nrm AS MATERIALIZED (
  SELECT doc_id,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      ' +', ' ', 'g'))) AS nh
  FROM g
), ncanon AS MATERIALIZED (
  SELECT min(doc_id) AS doc_id FROM nrm GROUP BY nh
), canon AS MATERIALIZED (
  SELECT g.* FROM g JOIN ncanon USING (doc_id)
), tfk AS MATERIALIZED (
  SELECT doc_id FROM (${textQualityTopFracOver("canon")}) WHERE kept
), selected AS MATERIALIZED (
  SELECT c.* FROM canon c JOIN tfk USING (doc_id)
), packed AS MATERIALIZED (
  SELECT * FROM (${textPackOver("selected")})
), sp AS MATERIALIZED (
  ${textSplitOver("selected")}
)
SELECT packed.doc_id, sp.split, packed.shard, packed.seq,
  packed.tok_offset, packed.n_tokens
FROM packed JOIN sp USING (doc_id)"""
}
