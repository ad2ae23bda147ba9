package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{DupNgramPpm, HashFunctions, HashedBowScore, TextFunctions}
import graft.llm.{Bpe, Dedup, Extract, Lm, Multimodal, Retrieval, Sampling, Similarity, Unigram}

/** LLM training-data pipeline surface: dedup family, similarity search,
  * text analysis. Thresholds chosen from the measured similarity
  * distribution of the synthetic corpus (near-dup pairs sit at
  * jaccard >= 0.9 with the next pair at 0.07, cosine tops out ~0.55),
  * so LSH recall is exact on this data and oracle-checkable.
  */
object QueriesLlm {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Id shift for the synthetic duplicate copy the dedup fixtures union
    * in — shared by the Scala builders and the oracle SQL so the two
    * cannot drift. Must stay above max(doc_id) at every bench SF
    * (sf0.1 tops out at 5,000); shifted ids colliding with real ones
    * would silently change the min-id representative semantics — and
    * identically on BOTH engines, which is why [[withShiftedDup]]
    * enforces the invariant at runtime instead of trusting the comment. */
  private val DupIdOffset = 100000L

  /** The shared boilerplate paragraph of the llm_dedup_paragraph
    * fixture (no quotes/backslashes: embeds verbatim in SQL). */
  private val BoilerPara =
    "boilerplate navigation header paragraph shared across pages"

  /** HTML page fragments for the llm_extract_text fixture — shared by
    * the Spark builder and the oracle SQL so the synthesized input
    * cannot drift (no single quotes: the fragments embed verbatim in
    * SQL literals). */
  private val HtmlFragA = "<html><head><title>Doc "
  private val HtmlFragB = "</title><style>h1 { font-weight: bold }" +
    "</style></head><body><script type=\"text/javascript\">" +
    "var x = 1 < 2 && 3 > 0;</script>" +
    "<!-- note <p>commented markup</p> --><h1>Header "
  private val HtmlFragC = "</h1><p class=\"lead\">"
  private val HtmlFragD = "</p><ul><li>alpha &amp; beta</li>" +
    "<li>&lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</li>" +
    "<li>&amp;lt;double&amp;gt;</li></ul><div>tail</div></body></html>"

  /** Non-ASCII payloads for the llm_extract_charset fixture — each
    * must round-trip LOSSLESSLY through its charset (Cyrillic ⊂
    * windows-1251, Han ⊂ GBK, accented Latin ⊂ ISO-8859-1). Shared by
    * the Spark byte-builder and the oracle SQL (which only ever sees
    * the decoded text). No single quotes: embeds verbatim in SQL. */
  private val CsPayload1251 = "Привет мир номер "
  private val CsPayloadGbk = "今天天气很好编号"
  private val CsPayload8859 = "Café déjà vu numéro "
  private val CsPayloadUtf8 = "plain utf-8 text № "

  /** Page fragments of the llm_main_content fixture: a link-dense nav
    * block, a short heading, a prose paragraph carrying the document
    * text plus ONE inline link (low density when the text is long,
    * over-dense when it is short — both branches exercised by real
    * variation in the corpus), and a link-only footer. No single
    * quotes: embeds verbatim in SQL. */
  private val MceFragA = "<html><body><div><a href=/>Home</a> | " +
    "<a href=/a>About</a> | <a href=/c>Contact us today</a></div>" +
    "<h1>Title "
  private val MceFragB = "</h1><p>"
  private val MceFragC = " <a href=/ref>inline reference link</a> " +
    "closing words of the paragraph.</p>" +
    "<div><a href=/p>Privacy</a> <a href=/t>Terms</a></div></body></html>"

  /** Blocklists of the llm_url_filter fixture — registrable domains
    * (cover every subdomain), exact hosts, and URL keywords. Shared by
    * the Spark builder and the oracle SQL (plain lowercase ASCII: embed
    * verbatim in SQL literals and regexp alternations). */
  private val UrlBlockDomains = Seq("tracker0.com", "tracker1.com",
    "blog1.co.uk")
  private val UrlBlockHosts = Seq("shop2.example.com")
  private val UrlBlockKeywords = Seq("casino")

  /** Word list of the llm_badwords fixture (C4-style page gate). */
  private val BadWordList = Seq("jackpot", "roulette")

  /** The corpus unioned with a full exact copy shifted by DupIdOffset,
    * with the no-collision invariant checked loudly. */
  private def withShiftedDup(docs: DataFrame): DataFrame = {
    val maxRow = docs.agg(max(col("doc_id"))).head()
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0) // empty corpus
    require(maxId < DupIdOffset,
      s"dup fixture id shift $DupIdOffset must exceed max(doc_id)=$maxId — " +
        "collisions would silently change representative semantics")
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + DupIdOffset))
  }

  /** DuckDB twin of [[TextFunctions.tokens]] (the UnicodeTokens
    * scanner): ONE regexp_extract_all over the same published pattern
    * both engines derive from. Every token-consuming oracle tokenizes
    * through THIS — a string_split twin only gates the engine while
    * fixtures stay single-space ASCII; this form gates the
    * tokenization the engine actually runs (CJK char-tokens, tabs,
    * newlines, runs of spaces) and yields no empty tokens. */
  private def utokSql(col: String = "text"): String =
    s"regexp_extract_all($col, '${TextFunctions.UTokenPattern}')"

  /** DuckDB twin of [[TextFunctions.tokenCount]]. */
  private def utokCountSql(col: String = "text"): String =
    s"len(${utokSql(col)})"

  /** DuckDB twin of Dedup.ngramJaccardPairs (word 3-gram shingles) over
    * an arbitrary (doc_id, text) relation. */
  private def jaccardOracleOver(src: String) =
    s"""WITH toks AS (SELECT doc_id, ${utokSql()} AS tk FROM $src),
      sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
        FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 2))) AS i FROM toks) z),
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT ia AS id_a, ib AS id_b,
        round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jaccard
      FROM inter JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
      WHERE round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) >= 0.5"""

  private val JaccardOracle = jaccardOracleOver("documents")

  /** Exact-dup representatives (min id per distinct text) of the
    * documents corpus unioned with a full shifted copy of itself — the
    * collapsed-pairs oracle input. */
  private val DupHeavyReps =
    s"""(SELECT min(doc_id) AS doc_id, text
       FROM (SELECT doc_id, text FROM documents
             UNION ALL SELECT doc_id + $DupIdOffset, text FROM documents) u
       GROUP BY text) reps"""

  /** DuckDB twin of Dedup.resolveClusters: near-dup pairs (word 3-gram
    * jaccard >= 0.5) → transitive closure (recursive CTE) → min-id root →
    * keep-best. Shared by the driver-union-find and map-reduce-CC query
    * variants, which must both hash-match it. */
  /** DuckDB twin of TextFunctions.qualityScore over the documents
    * table — shared by llm_quality_score and the keep-best-quality
    * cluster resolution. */
  private val qualityOracle: String = {
    val stopHits =
      s"len(regexp_extract_all(' ' || lower(text) || ' ', " +
        s"'${TextFunctions.wordHitsPattern(TextFunctions.StopwordsEn)}'))"
    s"""WITH m AS (SELECT doc_id,
      CAST(length(text) AS DOUBLE) AS n_chars,
      CAST(${utokCountSql()} AS DOUBLE) AS n_tok,
      CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha,
      CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
      CAST(""" + stopHits + """ AS DOUBLE) AS stop
      FROM documents)
    SELECT doc_id, round(
      least(n_chars / 200.0, 1.0) * 0.25
      + (CASE WHEN n_chars = 0 THEN 0.0 ELSE alpha / n_chars END) * 0.25
      + (1.0 - least((CASE WHEN n_chars = 0 THEN 0.0 ELSE punct / n_chars END) * 10.0, 1.0)) * 0.2
      + (CASE WHEN (CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END) >= 3.0
        AND (CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END) <= 10.0
      THEN 1.0 ELSE 0.5 END) * 0.15
      + least((CASE WHEN n_tok = 0 THEN 0.0 ELSE stop / n_tok END) * 4.0, 1.0) * 0.15,
      6) AS quality
    FROM m"""
  }

  /** The recursive-CTE connected-components oracle shared by every
    * cluster-resolution variant; `keeperJoin`/`keeperOrder` decide the
    * per-cluster argmax (length for the classic form, a score for the
    * keep-best-quality form). */
  private def clustersOracleWith(keeperJoin: String,
                                 keeperOrder: String): String =
    s"""WITH RECURSIVE
      toks AS (SELECT doc_id, ${utokSql()} AS tk FROM documents),
      sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
        FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 2))) AS i FROM toks) z),
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      pairs AS (SELECT ia, ib FROM inter
        JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
        WHERE round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) >= 0.5),
      edges AS (SELECT ia AS a, ib AS b FROM pairs
        UNION ALL SELECT ib, ia FROM pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      root AS (SELECT a AS doc_id, min(b) AS cluster_root FROM reach GROUP BY a),
      ranked AS (SELECT d.doc_id, r.cluster_root,
          row_number() OVER (PARTITION BY r.cluster_root
            ORDER BY $keeperOrder, d.doc_id) AS rn
        FROM documents d JOIN root r ON d.doc_id = r.doc_id$keeperJoin)
      SELECT doc_id, cluster_root, rn = 1 AS keep FROM ranked"""

  private val clustersOracle =
    clustersOracleWith("", "length(d.text) DESC")

  /** DuckDB exact cosine over the embeddings table. */
  private def cosineSql(body: String): String =
    s"""WITH sims AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
          (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
           sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
          AS cos_sim
      FROM embeddings a JOIN embeddings b ON $body)"""

  /** Shared DuckDB derivation of the PQ pipeline (normalize -> mix64
    * seed pick -> 2 per-subspace Lloyd iterations -> encode -> ADC
    * micro-distance pairs) — the prefix of both llm_ann_pq tails. */
  private val pqOracleCommon = """WITH
raw AS MATERIALIZED (SELECT vec_id, e0, nrm FROM (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0,
    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings) q WHERE nrm > 0.0),
samp AS MATERIALIZED (SELECT vec_id, list_transform(e0, x -> x / nrm) AS e
  FROM raw ORDER BY vec_id LIMIT 65536),
h1 AS (SELECT vec_id, e, (vec_id::HUGEINT + 11400714819323198485) % 18446744073709551616 AS ka FROM samp),
h2 AS (SELECT *, (((xor(ka, ka >> 30)) % 4294967296) * ((13787848793156543929) % 4294967296) + ((((xor(ka, ka >> 30)) // 4294967296) * ((13787848793156543929) % 4294967296) + ((xor(ka, ka >> 30)) % 4294967296) * ((13787848793156543929) // 4294967296)) % 4294967296) * 4294967296) % 18446744073709551616 AS kb FROM h1),
h3 AS (SELECT *, (((xor(kb, kb >> 27)) % 4294967296) * ((10723151780598845931) % 4294967296) + ((((xor(kb, kb >> 27)) // 4294967296) * ((10723151780598845931) % 4294967296) + ((xor(kb, kb >> 27)) % 4294967296) * ((10723151780598845931) // 4294967296)) % 4294967296) * 4294967296) % 18446744073709551616 AS kc FROM h2),
hm AS (SELECT vec_id, e,
  CASE WHEN xor(kc, kc >> 31) >= 9223372036854775808 THEN (xor(kc, kc >> 31) - 18446744073709551616)::BIGINT
       ELSE xor(kc, kc >> 31)::BIGINT END AS m FROM h3),
c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY m, vec_id) - 1 AS cell, e
  FROM hm ORDER BY m, vec_id LIMIT 8),
subs(s) AS (VALUES (0), (1), (2), (3)),
sv AS MATERIALIZED (SELECT vec_id, s, list_transform(range(1, 17), i -> e[s * 16 + i]) AS v
  FROM samp, subs),
cb0 AS MATERIALIZED (SELECT s, cell, list_transform(range(1, 17), i -> e[s * 16 + i]) AS c
  FROM c0, subs),
dims AS (SELECT unnest(range(1, 17))::INT AS dim),
a1 AS MATERIALIZED (SELECT vec_id, s, cell FROM (
    SELECT v.vec_id, v.s, cb.cell,
      row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY
        list_sum(list_transform(range(1, 17), i -> (v.v[i] - cb.c[i]) * (v.v[i] - cb.c[i]))), cb.cell) AS rn
    FROM sv v JOIN cb0 cb ON v.s = cb.s) z WHERE rn = 1),
m1 AS (SELECT a.s, a.cell, d.dim,
    round(CAST(SUM(CAST(v.v[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a1 a JOIN sv v ON a.vec_id = v.vec_id AND a.s = v.s, dims d
  GROUP BY a.s, a.cell, d.dim),
cb1 AS MATERIALIZED (SELECT p.s, p.cell, coalesce(lm.c, p.c) AS c
  FROM cb0 p LEFT JOIN (SELECT s, cell, list(m ORDER BY dim) AS c FROM m1 GROUP BY s, cell) lm
    ON p.s = lm.s AND p.cell = lm.cell),
a2 AS MATERIALIZED (SELECT vec_id, s, cell FROM (
    SELECT v.vec_id, v.s, cb.cell,
      row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY
        list_sum(list_transform(range(1, 17), i -> (v.v[i] - cb.c[i]) * (v.v[i] - cb.c[i]))), cb.cell) AS rn
    FROM sv v JOIN cb1 cb ON v.s = cb.s) z WHERE rn = 1),
m2 AS (SELECT a.s, a.cell, d.dim,
    round(CAST(SUM(CAST(v.v[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a2 a JOIN sv v ON a.vec_id = v.vec_id AND a.s = v.s, dims d
  GROUP BY a.s, a.cell, d.dim),
cb2 AS MATERIALIZED (SELECT p.s, p.cell, coalesce(lm.c, p.c) AS c
  FROM cb1 p LEFT JOIN (SELECT s, cell, list(m ORDER BY dim) AS c FROM m2 GROUP BY s, cell) lm
    ON p.s = lm.s AND p.cell = lm.cell),
codes AS MATERIALIZED (SELECT vec_id, s, cell AS code FROM (
    SELECT v.vec_id, v.s, cb.cell,
      row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY
        list_sum(list_transform(range(1, 17), i -> (v.v[i] - cb.c[i]) * (v.v[i] - cb.c[i]))), cb.cell) AS rn
    FROM sv v JOIN cb2 cb ON v.s = cb.s) z WHERE rn = 1),
qtab AS MATERIALIZED (SELECT v.vec_id, v.s, cb.cell,
    CAST(round(list_sum(list_transform(range(1, 17), i -> (v.v[i] - cb.c[i]) * (v.v[i] - cb.c[i]))) * 1000000, 0) AS BIGINT) AS micro
  FROM sv v JOIN cb2 cb ON v.s = cb.s),
pairs AS (SELECT q.vec_id, c.vec_id AS neighbor_id, CAST(SUM(q.micro) AS BIGINT) AS adc_dist
  FROM qtab q JOIN codes c ON q.s = c.s AND q.cell = c.code
  WHERE q.vec_id <> c.vec_id GROUP BY 1, 2)"""

  /** Residual-IVFADC oracle tail (appended to [[pqOracleCommon]], whose
    * raw/samp/hm/c0/subs CTEs it reuses; the raw-PQ cb/codes/qtab CTEs
    * go unreferenced and DuckDB prunes them): the coarse quantizer's 2
    * Lloyd blocks over full 64-dim vectors (ga/gm/gc), per-vector
    * residuals against the final centroids (one subtraction CTE —
    * rsv), the PQ Lloyd blocks re-run on residual subspace slices
    * (rcb0..rcb2), residual codes, and PER-PROBED-CELL query tables
    * (rqtab keyed by (vec_id, pcell)) — mirroring
    * Similarity.ivfPqKnn's residual=true path exactly. */
  private val ivfPqResidualTail = """,
ga1 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.e[i]) * (s.e[i] - c.e[i]))), c.cell) AS rn
    FROM samp s, c0 c) z WHERE rn = 1),
gm1 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM ga1 a JOIN samp s USING (vec_id), (SELECT unnest(range(1, 65))::INT AS dim) d
  GROUP BY a.cell, d.dim),
gc1 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.e) AS c
  FROM c0 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM gm1 GROUP BY cell) lm
    USING (cell)),
ga2 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, gc1 c) z WHERE rn = 1),
gm2 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM ga2 a JOIN samp s USING (vec_id), (SELECT unnest(range(1, 65))::INT AS dim) d
  GROUP BY a.cell, d.dim),
gc2 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM gc1 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM gm2 GROUP BY cell) lm
    USING (cell)),
gprobe AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, gc2 c) z WHERE rn <= 2),
gassign AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, gc2 c) z WHERE rn = 1),
rsv AS MATERIALIZED (SELECT s.vec_id, sub.s,
    list_transform(range(1, 17), i -> s.e[sub.s * 16 + i] - c.c[sub.s * 16 + i]) AS v
  FROM samp s JOIN gassign a USING (vec_id) JOIN gc2 c ON c.cell = a.cell, subs sub),
rseed AS (SELECT vec_id, row_number() OVER (ORDER BY m, vec_id) - 1 AS scell
  FROM hm ORDER BY m, vec_id LIMIT 8),
rcb0 AS MATERIALIZED (SELECT v.s, sd.scell AS cell, v.v AS c
  FROM rseed sd JOIN rsv v USING (vec_id)),
ra1 AS MATERIALIZED (SELECT vec_id, s, cell FROM (
    SELECT v.vec_id, v.s, cb.cell,
      row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY
        list_sum(list_transform(range(1, 17), i -> (v.v[i] - cb.c[i]) * (v.v[i] - cb.c[i]))), cb.cell) AS rn
    FROM rsv v JOIN rcb0 cb ON v.s = cb.s) z WHERE rn = 1),
rm1 AS (SELECT a.s, a.cell, d.dim,
    round(CAST(SUM(CAST(v.v[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM ra1 a JOIN rsv v ON a.vec_id = v.vec_id AND a.s = v.s, dims d
  GROUP BY a.s, a.cell, d.dim),
rcb1 AS MATERIALIZED (SELECT p.s, p.cell, coalesce(lm.c, p.c) AS c
  FROM rcb0 p LEFT JOIN (SELECT s, cell, list(m ORDER BY dim) AS c FROM rm1 GROUP BY s, cell) lm
    ON p.s = lm.s AND p.cell = lm.cell),
ra2 AS MATERIALIZED (SELECT vec_id, s, cell FROM (
    SELECT v.vec_id, v.s, cb.cell,
      row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY
        list_sum(list_transform(range(1, 17), i -> (v.v[i] - cb.c[i]) * (v.v[i] - cb.c[i]))), cb.cell) AS rn
    FROM rsv v JOIN rcb1 cb ON v.s = cb.s) z WHERE rn = 1),
rm2 AS (SELECT a.s, a.cell, d.dim,
    round(CAST(SUM(CAST(v.v[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM ra2 a JOIN rsv v ON a.vec_id = v.vec_id AND a.s = v.s, dims d
  GROUP BY a.s, a.cell, d.dim),
rcb2 AS MATERIALIZED (SELECT p.s, p.cell, coalesce(lm.c, p.c) AS c
  FROM rcb1 p LEFT JOIN (SELECT s, cell, list(m ORDER BY dim) AS c FROM rm2 GROUP BY s, cell) lm
    ON p.s = lm.s AND p.cell = lm.cell),
rcodes AS MATERIALIZED (SELECT vec_id, s, cell AS code FROM (
    SELECT v.vec_id, v.s, cb.cell,
      row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY
        list_sum(list_transform(range(1, 17), i -> (v.v[i] - cb.c[i]) * (v.v[i] - cb.c[i]))), cb.cell) AS rn
    FROM rsv v JOIN rcb2 cb ON v.s = cb.s) z WHERE rn = 1),
rqsv AS MATERIALIZED (SELECT p.vec_id, p.cell AS pcell, sub.s,
    list_transform(range(1, 17), i -> q.e[sub.s * 16 + i] - c.c[sub.s * 16 + i]) AS v
  FROM gprobe p JOIN samp q USING (vec_id) JOIN gc2 c ON c.cell = p.cell, subs sub),
rqtab AS MATERIALIZED (SELECT v.vec_id, v.pcell, v.s, cb.cell AS code,
    CAST(round(list_sum(list_transform(range(1, 17), i -> (v.v[i] - cb.c[i]) * (v.v[i] - cb.c[i]))) * 1000000, 0) AS BIGINT) AS micro
  FROM rqsv v JOIN rcb2 cb ON v.s = cb.s),
gcand AS (SELECT p.vec_id, p.cell, a.vec_id AS neighbor_id
  FROM gprobe p JOIN gassign a USING (cell) WHERE p.vec_id <> a.vec_id),
ivpairs AS (SELECT cd.vec_id, cd.neighbor_id, CAST(SUM(t.micro) AS BIGINT) AS adc_dist
  FROM gcand cd
  JOIN rcodes c ON c.vec_id = cd.neighbor_id
  JOIN rqtab t ON t.vec_id = cd.vec_id AND t.pcell = cd.cell
    AND t.s = c.s AND t.code = c.code
  GROUP BY 1, 2)"""

  /** llm_classifier_train shape: small bucket count keeps each unrolled
    * iteration's weight join tiny; 3 iterations separate the planted
    * cues decisively. */
  private val ClfBuckets = 512
  private val ClfIters = 3

  /** DuckDB twin of [[graft.llm.Classifier.train]] over the planted
    * llm_classifier_train fixture — iterations unrolled as CTE blocks
    * generated from the SAME constants. */
  private def classifierTrainOracle: String = {
    val B = ClfBuckets
    def iter(k: Int): String = {
      val prev = s"w${k - 1}"
      s"""m$k AS (SELECT f.doc_id, f.y, CAST(SUM(w.w * f.cnt) AS BIGINT) AS marg
  FROM feats f JOIN $prev w USING (b) GROUP BY f.doc_id, f.y),
e$k AS (SELECT doc_id,
    greatest(0, least(1000000, 500000 + marg // 4)) - y * 1000000 AS err
  FROM m$k),
g$k AS (SELECT f.b, CAST(SUM(e.err * f.cnt) AS BIGINT) AS g
  FROM feats f JOIN e$k e USING (doc_id) GROUP BY f.b),
w$k AS MATERIALIZED (SELECT w.b,
    CAST(w.w - (1000000 * coalesce(g.g, 0)) // (n.n * 1000000) AS BIGINT) AS w
  FROM $prev w LEFT JOIN g$k g USING (b) CROSS JOIN n)"""
    }
    s"""WITH docs2 AS (SELECT doc_id, doc_id % 2 AS y,
    text || CASE WHEN doc_id % 2 = 1 THEN ' quuxpos quuxpos'
                 ELSE ' quuxneg quuxneg' END AS text
  FROM documents),
tokr AS (SELECT doc_id, y,
    unnest(${utokSql()}) AS tok FROM docs2),
feats AS MATERIALIZED (SELECT doc_id, y,
    ((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096 +
     (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256 +
     (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16 +
     (instr('0123456789abcdef', substr(md5(tok), 4, 1)) - 1)) % $B AS b,
    COUNT(*) AS cnt
  FROM tokr GROUP BY doc_id, y, b),
n AS (SELECT COUNT(*) AS n FROM documents),
w0 AS (SELECT CAST(unnest(range(0, $B)) AS BIGINT) AS b, CAST(0 AS BIGINT) AS w),
${(1 to ClfIters).map(iter).mkString(",\n")}
SELECT b, w AS w_micro FROM w$ClfIters"""
  }

  /** llm_langid_clf fixture: eight planted languages (SORTED — model
    * order and argmax tie-break key off it), each with a distinctive
    * phrase sharing no token with any other. ru exercises Cyrillic; zh
    * has NO spaces at all — only the Unicode tokenizer splits it into
    * per-character tokens the classifier can learn. No single quotes:
    * embeds verbatim in SQL. */
  private val LangClfLabels = Seq("de", "en", "es", "fr", "it", "pt", "ru", "zh")
  private val LangClfPhrase: Map[String, String] = Map(
    "de" -> "und nicht welt", "en" -> "hello world friend",
    "es" -> "hola mundo amigo", "fr" -> "bonjour monde ami",
    "it" -> "ciao tutto amico", "pt" -> "nao uma coisa boa",
    "ru" -> "привет мир друг", "zh" -> "天气很好")
  private val LangClfIters = 2
  private val LangClfBuckets = 512

  /** llm_langid_ngram fixture: three languages with morphology-rich
    * training phrases; the TEST docs are single UNSEEN words
    * (tweet-length) that share no token with training, so the
    * word-level model has nothing to vote with (all margins tie at 0
    * and the argmax falls to the first sorted label) while their char
    * 2-5-grams overlap the training morphology (`sch…ung`, doubled
    * `kk`, `…acao`) and the n-gram model recovers. */
  private val LangNgLabels = Seq("de", "fi", "pt")
  private val LangNgTrain: Map[String, String] = Map(
    "de" -> "schule achtung zeitung schreiben",
    "fi" -> "kaupunki kukka kakku silakka",
    "pt" -> "coracao educacao nacao atencao")
  private val LangNgTest: Map[String, String] = Map(
    "de" -> "schreibung", "fi" -> "kukkakakku", "pt" -> "aviacao")
  private val LangNgIters = 2
  private val LangNgBuckets = 512

  /** DuckDB twin of the llm_langid_clf lifecycle: the planted fixture,
    * one [[classifierTrainOracle]]-style unrolled chain PER LABEL
    * (one-vs-rest, y = (lang = l)), then per-label scoring joins and
    * the argmax CASE in sorted-label order — prediction hash-exact. */
  private def langClfOracle: String = {
    val B = LangClfBuckets
    def caseByIdx(f: String => String): String =
      "CASE CAST(doc_id % 8 AS INT) " + LangClfLabels.zipWithIndex.map {
        case (l, i) => s"WHEN $i THEN '${f(l)}'" }.mkString(" ") + " END"
    def chain(l: String): String = {
      def iter(k: Int): String = {
        val prev = if (k == 1) s"w0" else s"w${k - 1}_$l"
        s"""m${k}_$l AS (SELECT f.doc_id, f.y_$l AS y,
    CAST(SUM(w.w * f.cnt) AS BIGINT) AS marg
  FROM feats f JOIN $prev w USING (b) GROUP BY f.doc_id, f.y_$l),
e${k}_$l AS (SELECT doc_id,
    greatest(0, least(1000000, 500000 + marg // 4)) - y * 1000000 AS err
  FROM m${k}_$l),
g${k}_$l AS (SELECT f.b, CAST(SUM(e.err * f.cnt) AS BIGINT) AS g
  FROM feats f JOIN e${k}_$l e USING (doc_id) GROUP BY f.b),
w${k}_$l AS MATERIALIZED (SELECT w.b,
    CAST(w.w - (1000000 * coalesce(g.g, 0)) // (n.n * 1000000) AS BIGINT) AS w
  FROM $prev w LEFT JOIN g${k}_$l g USING (b) CROSS JOIN n)"""
      }
      (1 to LangClfIters).map(iter).mkString(",\n")
    }
    val scores = LangClfLabels.map { l =>
      s"""sc_$l AS (SELECT f.doc_id, CAST(SUM(w.w * f.cnt) AS BIGINT) AS s
  FROM feats f JOIN w${LangClfIters}_$l w USING (b)
  GROUP BY f.doc_id)"""
    }.mkString(",\n")
    val gmax = "greatest(" + LangClfLabels.map(l => s"sc_$l.s").mkString(", ") + ")"
    val argmax = "CASE " + LangClfLabels.dropRight(1).map(l =>
      s"WHEN sc_$l.s = $gmax THEN '$l'").mkString(" ") +
      s" ELSE '${LangClfLabels.last}' END"
    val scoreJoins = LangClfLabels.map(l =>
      s"JOIN sc_$l ON sc_$l.doc_id = fix.doc_id").mkString("\n  ")
    s"""WITH fix AS MATERIALIZED (SELECT doc_id,
    ${caseByIdx(identity)} AS lang,
    ${caseByIdx(LangClfPhrase)} || ' ' || ${caseByIdx(LangClfPhrase)} ||
      ' tag' || (doc_id % 7) AS text
  FROM documents),
tokr AS (SELECT doc_id, lang,
    unnest(regexp_extract_all(text, '${TextFunctions.UTokenPattern}')) AS tok
  FROM fix),
feats AS MATERIALIZED (SELECT doc_id,
    ${LangClfLabels.map(l =>
      s"CAST(lang = '$l' AS BIGINT) AS y_$l").mkString(",\n    ")},
    ((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096 +
     (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256 +
     (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16 +
     (instr('0123456789abcdef', substr(md5(tok), 4, 1)) - 1)) % $B AS b,
    COUNT(*) AS cnt
  FROM tokr GROUP BY ALL),
n AS (SELECT COUNT(*) AS n FROM documents),
w0 AS (SELECT CAST(unnest(range(0, $B)) AS BIGINT) AS b, CAST(0 AS BIGINT) AS w),
${LangClfLabels.map(chain).mkString(",\n")},
$scores
SELECT fix.doc_id, fix.lang, $argmax AS lang_pred
FROM fix
  $scoreJoins"""
  }

  /** DuckDB twin of the llm_langid_ngram DOUBLE lifecycle: the word
    * and char-n-gram feature families each get one unrolled
    * one-vs-rest chain per label (the [[langClfOracle]] machinery,
    * fam-parameterized), then score the short test docs through both
    * model families; char n-grams render as chained LATERAL unnests
    * over codepoint positions of the boundary-marked token (`substr`
    * is codepoint-based in both engines). */
  private def langNgramOracle: String = {
    val B = LangNgBuckets
    def bucketOf(tok: String): String =
      s"""((instr('0123456789abcdef', substr(md5($tok), 1, 1)) - 1) * 4096 +
     (instr('0123456789abcdef', substr(md5($tok), 2, 1)) - 1) * 256 +
     (instr('0123456789abcdef', substr(md5($tok), 3, 1)) - 1) * 16 +
     (instr('0123456789abcdef', substr(md5($tok), 4, 1)) - 1)) % $B"""
    def caseByIdx(f: String => String): String =
      "CASE CAST(doc_id % 3 AS INT) " + LangNgLabels.zipWithIndex.map {
        case (l, i) => s"WHEN $i THEN '${f(l)}'" }.mkString(" ") + " END"
    val yFlags = LangNgLabels.map(l =>
      s"CAST(lang = '$l' AS BIGINT) AS y_$l").mkString(",\n    ")
    def featsOf(fam: String, tokSrc: String): String =
      s"""feats_$fam AS MATERIALIZED (SELECT doc_id,
    $yFlags,
    ${bucketOf("tok")} AS b,
    COUNT(*) AS cnt
  FROM $tokSrc GROUP BY ALL)"""
    // the 2-5-gram LATERAL pipeline over a boundary-marked token CTE
    def gramsOf(src: String, cols: String): String =
      s"""(SELECT $cols, substr(w, CAST(i AS INT), CAST(l AS INT)) AS tok
  FROM $src,
       LATERAL (SELECT unnest(range(2, 6)) AS l) ll,
       LATERAL (SELECT unnest(range(1, length(w) - l + 2)) AS i) ii)"""
    def chain(fam: String, l: String): String = {
      def iter(k: Int): String = {
        val prev = if (k == 1) "w0" else s"w${k - 1}_${fam}_$l"
        s"""m${k}_${fam}_$l AS (SELECT f.doc_id, f.y_$l AS y,
    CAST(SUM(w.w * f.cnt) AS BIGINT) AS marg
  FROM feats_$fam f JOIN $prev w USING (b) GROUP BY f.doc_id, f.y_$l),
e${k}_${fam}_$l AS (SELECT doc_id,
    greatest(0, least(1000000, 500000 + marg // 4)) - y * 1000000 AS err
  FROM m${k}_${fam}_$l),
g${k}_${fam}_$l AS (SELECT f.b, CAST(SUM(e.err * f.cnt) AS BIGINT) AS g
  FROM feats_$fam f JOIN e${k}_${fam}_$l e USING (doc_id) GROUP BY f.b),
w${k}_${fam}_$l AS MATERIALIZED (SELECT w.b,
    CAST(w.w - (1000000 * coalesce(g.g, 0)) // (n.n * 1000000) AS BIGINT) AS w
  FROM $prev w LEFT JOIN g${k}_${fam}_$l g USING (b) CROSS JOIN n)"""
      }
      (1 to LangNgIters).map(iter).mkString(",\n")
    }
    def scores(fam: String): String = LangNgLabels.map { l =>
      s"""sc_${fam}_$l AS (SELECT f.doc_id, CAST(SUM(w.w * f.cnt) AS BIGINT) AS s
  FROM sfeat_$fam f JOIN w${LangNgIters}_${fam}_$l w USING (b)
  GROUP BY f.doc_id)""" }.mkString(",\n")
    def argmax(fam: String): String = {
      val gmax = "greatest(" +
        LangNgLabels.map(l => s"sc_${fam}_$l.s").mkString(", ") + ")"
      "CASE " + LangNgLabels.dropRight(1).map(l =>
        s"WHEN sc_${fam}_$l.s = $gmax THEN '$l'").mkString(" ") +
        s" ELSE '${LangNgLabels.last}' END"
    }
    val scoreJoins = (for (fam <- Seq("w", "g"); l <- LangNgLabels)
      yield s"JOIN sc_${fam}_$l ON sc_${fam}_$l.doc_id = fixte.doc_id")
      .mkString("\n  ")
    s"""WITH fixtr AS MATERIALIZED (SELECT doc_id,
    ${caseByIdx(identity)} AS lang,
    ${caseByIdx(LangNgTrain)} || ' tag' || (doc_id % 7) AS text
  FROM documents),
fixte AS MATERIALIZED (SELECT doc_id,
    ${caseByIdx(identity)} AS lang,
    ${caseByIdx(LangNgTest)} AS text
  FROM documents WHERE doc_id % 20 = 0),
tok_w AS (SELECT doc_id, lang,
    unnest(regexp_extract_all(text, '${TextFunctions.UTokenPattern}')) AS tok
  FROM fixtr),
tokg0 AS (SELECT doc_id, lang, '<' || tok || '>' AS w FROM tok_w),
tok_g AS ${gramsOf("tokg0", "doc_id, lang")},
${featsOf("w", "tok_w")},
${featsOf("g", "tok_g")},
n AS (SELECT COUNT(*) AS n FROM documents),
w0 AS (SELECT CAST(unnest(range(0, $B)) AS BIGINT) AS b, CAST(0 AS BIGINT) AS w),
${(for (fam <- Seq("w", "g"); l <- LangNgLabels)
      yield chain(fam, l)).mkString(",\n")},
stok_w AS (SELECT doc_id,
    unnest(regexp_extract_all(text, '${TextFunctions.UTokenPattern}')) AS tok
  FROM fixte),
stokg0 AS (SELECT doc_id, '<' || tok || '>' AS w FROM stok_w),
stok_g AS ${gramsOf("stokg0", "doc_id")},
sfeat_w AS (SELECT doc_id, ${bucketOf("tok")} AS b, COUNT(*) AS cnt
  FROM stok_w GROUP BY ALL),
sfeat_g AS (SELECT doc_id, ${bucketOf("tok")} AS b, COUNT(*) AS cnt
  FROM stok_g GROUP BY ALL),
${scores("w")},
${scores("g")}
SELECT fixte.doc_id, fixte.lang,
  ${argmax("w")} AS pred_word,
  ${argmax("g")} AS pred_ngram
FROM fixte
  $scoreJoins"""
  }

  /** DuckDB twin of the [[graft.llm.Unigram]] lifecycle
    * (llm_unigram_encode): substring seed counts, [[graft.llm.Unigram
    * .EmIters]] unrolled hard-EM blocks — each a Viterbi pass rendered
    * as a `list_reduce` whose accumulator IS the dp table (one
    * (n_pieces, score, segmentation) struct per position) — then the
    * final encode over distinct document words. Generated from the
    * SAME constants (MaxPieceLen, SeedK, EmIters, UTokenPattern) so
    * the engines cannot drift on the candidate order, the
    * (fewest-pieces, max-score, longest-piece) tie-break, or the
    * seed's (count desc, piece asc) top-K. */
  private def unigramOracle: String = {
    val P = graft.llm.Unigram.MaxPieceLen
    val K = graft.llm.Unigram.SeedK
    val iters = graft.llm.Unigram.EmIters
    def cand(l: Int): String = {
      val pc = s"substr(w, len(acc)-$l+1, $l)"
      val dpi = s"acc[len(acc)-$l+1]"
      // l == 1 carries the engine's UNK-as-char fallback (unseen single
      // chars segment as their own piece, score 0) — vacuous when the
      // fixtures encode the training corpus, pinned here so the twin
      // cannot drift if a fixture ever encodes disjoint text
      val sc0 = s"vc[list_position(vp, $pc)]"
      val sc =
        if (l == 1) s"coalesce($sc0, CAST(0 AS BIGINT))" else sc0
      s"CASE WHEN len(acc) >= $l AND $sc IS NOT NULL THEN " +
        s"{'n': struct_extract($dpi, 'n') + 1, " +
        s"'sc': struct_extract($dpi, 'sc') + $sc, " +
        s"'seg': struct_extract($dpi, 'seg') || " +
        s"(CASE WHEN struct_extract($dpi, 'seg') = '' THEN '' ELSE ' ' END)" +
        s" || $pc} ELSE NULL END"
    }
    val best = (2 to P).foldLeft(cand(1)) { (b, l) =>
      val c = cand(l)
      s"CASE WHEN ($c) IS NOT NULL AND " +
        s"(struct_extract($c, 'n') < struct_extract($b, 'n') OR " +
        s"(struct_extract($c, 'n') = struct_extract($b, 'n') AND " +
        s"struct_extract($c, 'sc') >= struct_extract($b, 'sc'))) " +
        s"THEN ($c) ELSE ($b) END"
    }
    val vit = s"""struct_extract(list_reduce(
      list_prepend(
        [{'n': CAST(0 AS BIGINT), 'sc': CAST(0 AS BIGINT), 'seg': ''}],
        list_transform(range(1, length(w)+1),
          x -> CAST([] AS STRUCT(n BIGINT, sc BIGINT, seg VARCHAR)[]))),
      (acc, x) -> list_append(acc, $best))[length(w)+1], 'seg')"""
    def vrow(v: String) =
      s"(SELECT list(p ORDER BY p) AS vp, list(c ORDER BY p) AS vc FROM $v)"
    def emBlock(k: Int): String = {
      val prev = s"v${k - 1}"
      s"""seg$k AS MATERIALIZED (SELECT w, freq, $vit AS seg
  FROM hist CROSS JOIN ${vrow(prev)}),
u$k AS (SELECT p, CAST(SUM(freq) AS BIGINT) AS c FROM (
    SELECT freq, unnest(string_split(seg, ' ')) AS p FROM seg$k) t
  GROUP BY p),
v$k AS MATERIALIZED (
  SELECT ch.p, CAST(coalesce(u.c, 0) AS BIGINT) AS c
  FROM (SELECT p FROM v0 WHERE length(p) = 1) ch LEFT JOIN u$k u USING (p)
  UNION ALL SELECT p, c FROM u$k WHERE length(p) >= 2)"""
    }
    s"""WITH hist AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(text,
      '${TextFunctions.UTokenPattern}')) AS w FROM documents) t
  GROUP BY w),
subs AS (SELECT p, CAST(SUM(freq) AS BIGINT) AS c FROM (
    SELECT freq, substr(w, CAST(i AS INT), CAST(l AS INT)) AS p
    FROM (SELECT w, freq, unnest(range(1, length(w)+1)) AS i FROM hist) z,
         (SELECT unnest(range(1, $P+1)) AS l) ll
    WHERE i + l - 1 <= length(w)) s GROUP BY p),
v0 AS MATERIALIZED (
  SELECT p, c FROM subs WHERE length(p) = 1
  UNION ALL
  SELECT p, c FROM (SELECT p, c FROM subs WHERE length(p) >= 2
                    ORDER BY c DESC, p LIMIT $K) q),
${(1 to iters).map(emBlock).mkString(",\n")},
wpos AS (SELECT doc_id, i AS pos, tk[CAST(i AS INT)] AS w
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk)+1)) AS i
        FROM (SELECT doc_id, regexp_extract_all(text,
            '${TextFunctions.UTokenPattern}') AS tk FROM documents) d) e),
segF AS (SELECT w, $vit AS seg
  FROM (SELECT DISTINCT w FROM wpos) dw CROSS JOIN ${vrow(s"v$iters")}),
enc AS (SELECT doc_id, pos, s.seg FROM wpos JOIN segF s USING (w))
SELECT doc_id, COUNT(*) AS n_words,
  CAST(SUM(len(string_split(seg, ' '))) AS BIGINT) AS n_pieces,
  string_agg(seg, ' ' ORDER BY pos) AS pieces
FROM enc GROUP BY doc_id"""
  }

  /** Merge count for llm_bpe_encode: each merge is one unrolled CTE
    * pair in the DuckDB oracle, so the count stays small. */
  private val BpeMerges = 8

  /** DuckDB tokenization twin of [[graft.llm.Bpe.preTokens]]: the same
    * RE2/Java-compatible pattern, leading space rendered as chr(288)
    * (U+0120 'Ġ'). */
  private val PreTkSql: String =
    "list_transform(regexp_extract_all(text, " +
      s"'${graft.llm.Bpe.PreTokenPattern.replace("'", "''")}'), " +
      "x -> replace(x, ' ', chr(288)))"

  /** The unrolled-training BPE oracle: s0 = per-word separator-wrapped
    * char sequences weighted by corpus frequency; then k iterations of
    * (mN = weighted adjacent-pair argmax with the (count desc, pair
    * asc) tie-break, sN = literal rewrite); finally every document word
    * encodes through the same k replaces in rank order. Mirrors
    * [[graft.llm.Bpe]] exactly — identical u0001-wrapped rendering,
    * identical replace semantics (both engines scan left-to-right,
    * non-overlapping). Assumes the corpus yields at least k mergeable
    * pairs (true for any real text corpus; Bpe.trainMerges stops early
    * on tiny vocabularies, the oracle would diverge there by design). */
  private def bpeOracleSql(k: Int,
                           tkExpr: String = null): String = {
    // default: the Unicode tokenizer twin — Bpe's plain family
    // tokenizes through TextFunctions.tokens
    val tk = if (tkExpr != null) tkExpr else utokSql()
    val c1 = "chr(1)"
    val cc = "(chr(1) || chr(1))"
    def step(n: Int): String = {
      val prev = if (n == 1) "s0" else s"s${n - 1}"
      s"""m$n AS MATERIALIZED (
        SELECT string_split(pr, ' ')[1] AS l, string_split(pr, ' ')[2] AS r FROM (
          SELECT a[i] || ' ' || a[i+1] AS pr, SUM(freq) AS cnt
          FROM (SELECT freq, a, unnest(range(1, len(a))) AS i
                FROM (SELECT freq, string_split(trim(s, $c1), $cc) AS a FROM $prev) t$n
                WHERE len(a) >= 2) z$n
          GROUP BY 1 ORDER BY cnt DESC, pr LIMIT 1) q$n),
      s$n AS MATERIALIZED (
        SELECT freq, replace(s, $c1 || l || $cc || r || $c1, $c1 || l || r || $c1) AS s
        FROM $prev CROSS JOIN m$n)"""
    }
    val encodeChain = (1 to k).foldLeft(
      s"$c1 || array_to_string(string_split(tk[i], ''), $cc) || $c1") {
      (acc, n) =>
        s"replace($acc, $c1 || m$n.l || $cc || m$n.r || $c1, $c1 || m$n.l || m$n.r || $c1)"
    }
    val crossJoins = (1 to k).map(n => s"CROSS JOIN m$n").mkString(" ")
    s"""WITH tk AS MATERIALIZED (SELECT doc_id, $tk AS tk FROM documents),
      hist AS MATERIALIZED (SELECT w, COUNT(*) AS freq FROM
        (SELECT unnest(tk) AS w FROM tk) x WHERE w <> '' GROUP BY w),
      s0 AS MATERIALIZED (SELECT freq,
        $c1 || array_to_string(string_split(w, ''), $cc) || $c1 AS s FROM hist),
      ${(1 to k).map(step).mkString(",\n      ")},
      enc AS (SELECT doc_id, i,
          trim(replace($encodeChain, $cc, ' '), $c1) AS p
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM tk) w
        $crossJoins
        WHERE tk[i] <> '')
      SELECT doc_id, COUNT(*) AS n_words,
        CAST(SUM(len(string_split(p, ' '))) AS BIGINT) AS n_pieces,
        string_agg(p, ' ' ORDER BY i) AS pieces
      FROM enc GROUP BY doc_id"""
  }

  private val baseDefs: Seq[QueryDef] = Seq(

    // exact dedup on a 128-bit content hash; input deliberately contains
    // one duplicate of every doc (id+DupIdOffset) so the collapse is
    // visible.
    QueryDef("llm_dedup_exact",
      (s, dir) => Dedup.exact(
        withShiftedDup(t(s, dir, "documents").select(col("doc_id"), col("text"))),
        "text", "doc_id"),
      Some(s"""SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM (SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + $DupIdOffset, text FROM documents) u
        GROUP BY md5(text)""")),

    // exact pairwise n-gram jaccard — the small-scale baseline and the
    // verify stage of the LSH path.
    QueryDef("llm_dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
        n = 3, threshold = 0.5),
      Some(JaccardOracle)),

    // edit-distance near-dup: levenshtein <= maxDist with length-banded
    // blocking. |len_a - len_b| <= 10 forces floor(len/16) bands to differ
    // by at most 1, so the probe side emits 3 band keys and the join stays
    // an equi-join (shuffle by band, never a cross product); recall is
    // exact by the band-width/threshold relation. The oracle runs the
    // unblocked quadratic form — same result, which PROVES the blocking
    // lossless at this threshold.
    QueryDef("llm_dedup_levenshtein",
      (s, dir) => {
        val maxD = 10
        val bandW = 16 // > maxD so adjacent bands cover every legal pair
        // repartition: candidate generation must not inherit the source
        // file's partitioning (a single parquet file would otherwise put
        // EVERY levenshtein on one core)
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), length(col("text")).as("len"))
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("b0", floor(col("len") / bandW))
        val probe = docs.withColumn("band",
          explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
        val build = docs.withColumn("band", col("b0"))
        // bounded levenshtein: banded O(len * maxD) DP with early exit,
        // exact for distances <= maxD (−1 beyond) — ~len/(2·maxD)× less
        // work per pair than the full matrix
        probe.as("a").join(build.as("b"),
            col("a.band") === col("b.band") &&
              col("a.doc_id") < col("b.doc_id") &&
              abs(col("a.len") - col("b.len")) <= maxD)
          .withColumn("dist", levenshtein(col("a.text"), col("b.text"), maxD))
          .filter(col("dist") >= 0)
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("dist"))
      },
      Some("""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          levenshtein(a.text, b.text) AS dist
        FROM documents a JOIN documents b
          ON a.doc_id < b.doc_id AND abs(length(a.text) - length(b.text)) <= 10
        WHERE levenshtein(a.text, b.text) <= 10""")),

    // MinHash+LSH: same final pairs as the exact jaccard (the corpus'
    // similarity gap makes 16x4 bands lossless here), so the exact oracle
    // doubles as the LSH recall check.
    QueryDef("llm_dedup_minhash",
      (s, dir) => Dedup.minhashLshPairs(t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, threshold = 0.5),
      Some(JaccardOracle)),

    // collapsed pair yield: the input is the corpus plus a full exact
    // duplicate of itself (every doc in a >=2-member exact-dup group),
    // and collapseExact=true must return pairs between the min-id
    // representatives only — the oracle computes representatives in SQL
    // and runs the same jaccard pipeline over them. This is the
    // pairs-level API form of the collapse resolveClusters performs
    // internally (lossless; removes the sum(group^2) candidate term).
    QueryDef("llm_dedup_minhash_collapsed",
      (s, dir) => Dedup.minhashLshPairs(
        withShiftedDup(t(s, dir, "documents").select(col("doc_id"), col("text"))),
        "text", "doc_id", shingleN = 3, threshold = 0.5, collapseExact = true),
      Some(jaccardOracleOver(DupHeavyReps))),

    // persisted LSH dedup index (build once / query many): the corpus
    // (doc_id % 5 != 0) is indexed on disk, then the "incoming batch"
    // (doc_id % 5 == 0) is deduped AGAINST the index — the incremental
    // daily-batch-vs-warehouse loop. The oracle is the exact quadratic
    // batch-x-corpus jaccard: candidates come from the persisted band
    // slice, but verification is exact, so the answer must equal the
    // never-persisted form (recall of the 16x4 banding at this corpus is
    // total — pinned by llm_dedup_minhash, whose pair set is a superset).
    QueryDef("llm_dedup_index",
      (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("graft-lsh-index-").toString
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        Dedup.lshBuildIndex(docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", idx,
          shingleN = 3, numBands = 16, rowsPerBand = 4)
        // layout rewrite inside the oracle gate: must not change a row
        Dedup.lshIndexCompact(s, idx)
        Dedup.lshIndexMatches(docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", idx,
          threshold = 0.5)
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${utokSql()} AS tk FROM documents),
        sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
          FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 2))) AS i FROM toks) z),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
          GROUP BY 1, 2)
        SELECT ia AS batch_id, ib AS corpus_id,
          round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jaccard
        FROM inter JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
        WHERE round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) >= 0.5""")),

    // persisted payload-digest dedup index (the crawl-snapshot loop:
    // CommonCrawl dedups each monthly snapshot against ALL prior ones).
    // Lifecycle inside the gate: snapshot A builds, compact rewrites
    // the layout (must not change a row), snapshot B dedups against the
    // index (pass 1: first-copy-per-new-digest + digest-less bypass),
    // B's survivors append, then B re-dedups (pass 2: exactly-once —
    // only the digest-less rows survive). Digest keys derive from
    // doc_id div 2 so the even/odd snapshot split still collides on
    // the shared key range 0..49.
    QueryDef("llm_digest_index",
      (s, dir) => {
        val idx = java.nio.file.Files
          .createTempDirectory("graft-digest-index-").toString + "/idx"
        val docs = t(s, dir, "documents")
        def recsOf(parity: Int, mod: Int) =
          docs.filter(pmod(col("doc_id"), lit(2L)) === parity)
            .select(
              concat(lit("f"), pmod(col("doc_id"), lit(4L))).as("file"),
              col("doc_id").as("rec_index"),
              when(pmod(col("doc_id"), lit(13L)) === 0, lit(""))
                .otherwise(md5(pmod(expr("doc_id div 2"), lit(mod.toLong))
                  .cast("string"))).as("payload_digest"))
        val snapA = recsOf(0, 50)
        graft.sources.Warc.digestIndexBuild(snapA, idx, "snapA")
        // layout rewrite inside the oracle gate: must not change a row
        graft.sources.Warc.digestIndexCompact(s, idx)
        val snapB = recsOf(1, 80)
        // EAGER: pass 1 must freeze before the append below mutates
        // the index it anti-joins against
        val pass1 = graft.sources.Warc.dedupByDigestIndexed(snapB, idx)
          .localCheckpoint(true)
        graft.sources.Warc.digestIndexAppendBatch(pass1, idx, "snapB", batchId = 0L)
        val pass2 = graft.sources.Warc.dedupByDigestIndexed(snapB, idx)
        pass1.withColumn("pass", lit(1))
          .unionByName(pass2.withColumn("pass", lit(2)))
          .select(col("pass"), col("rec_index").as("doc_id"),
            col("payload_digest").as("digest"))
      },
      Some("""WITH a AS (SELECT md5(CAST((doc_id // 2) % 50 AS VARCHAR)) AS digest
          FROM documents WHERE doc_id % 2 = 0 AND doc_id % 13 <> 0),
        b AS (SELECT 'f' || (doc_id % 4) AS file, doc_id AS rec_index,
            CASE WHEN doc_id % 13 = 0 THEN ''
                 ELSE md5(CAST((doc_id // 2) % 80 AS VARCHAR)) END AS digest
          FROM documents WHERE doc_id % 2 = 1),
        bkeep AS (SELECT rec_index, digest FROM (
            SELECT rec_index, digest,
              row_number() OVER (PARTITION BY digest
                ORDER BY file, rec_index) AS rn
            FROM b WHERE digest <> '') x WHERE rn = 1),
        p1 AS (
          SELECT 1 AS pass, rec_index AS doc_id, digest FROM bkeep
          WHERE digest NOT IN (SELECT digest FROM a)
          UNION ALL
          SELECT 1, rec_index, digest FROM b WHERE digest = ''),
        p2 AS (
          SELECT 2 AS pass, rec_index AS doc_id, digest
          FROM b WHERE digest = '')
        SELECT pass, doc_id, digest FROM p1
        UNION ALL SELECT pass, doc_id, digest FROM p2""")),

    // SimHash near-dup: pairs within hamming<=3 of the 64-bit signature.
    // Hamming-over-simhash is a genuinely different similarity measure than
    // jaccard (measured on this corpus: true near-dup pairs span hamming
    // 0-7 while unrelated pairs start at 2). The oracle re-derives the
    // signature bit-exactly in DuckDB: per-token splitmix64 string fold as
    // a recursive CTE over character positions (wrapping 64-bit multiply
    // split into 32-bit halves over HUGEINT), per-bit majority votes
    // (strictly positive wins, matching the Scala tie rule), then exact
    // all-pairs hamming via bit_count(xor) — lossless vs the Spark side's
    // pigeonhole chunk bucketing, so the pair sets must be identical.
    QueryDef("llm_dedup_simhash",
      (s, dir) => Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id", maxDist = 3)
        .select(col("id_a"), col("id_b")),
      Some(s"""WITH RECURSIVE
        toks AS (
          SELECT doc_id, i, tk[i] AS tok
          FROM (SELECT doc_id, ${utokSql()} AS tk FROM documents) z,
               LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i) r
        ),
        hs(doc_id, i, tok, pos, h) AS (
          SELECT doc_id, i, tok, 0, 5833679380957638813::HUGEINT FROM toks
          UNION ALL
          SELECT doc_id, i, tok, pos + 1, xor(kc, kc >> 31)
          FROM (
            SELECT doc_id, i, tok, pos, (((xor(kb, kb >> 27)) % 4294967296) * ((10723151780598845931) % 4294967296) + ((((xor(kb, kb >> 27)) // 4294967296) * ((10723151780598845931) % 4294967296) + ((xor(kb, kb >> 27)) % 4294967296) * ((10723151780598845931) // 4294967296)) % 4294967296) * 4294967296) % 18446744073709551616 AS kc FROM (
              SELECT doc_id, i, tok, pos, (((xor(ka, ka >> 30)) % 4294967296) * ((13787848793156543929) % 4294967296) + ((((xor(ka, ka >> 30)) // 4294967296) * ((13787848793156543929) % 4294967296) + ((xor(ka, ka >> 30)) % 4294967296) * ((13787848793156543929) // 4294967296)) % 4294967296) * 4294967296) % 18446744073709551616 AS kb FROM (
                SELECT doc_id, i, tok, pos,
                  (xor(h, unicode(substr(tok, pos + 1, 1))::HUGEINT) + 11400714819323198485) % 18446744073709551616 AS ka
                FROM hs WHERE pos < length(tok)
              ) s1
            ) s2
          ) s3
        ),
        tokh AS (SELECT doc_id, i, h FROM hs WHERE pos = length(tok)),
        bits AS (SELECT unnest(range(0, 64))::HUGEINT AS b),
        votes AS (
          SELECT doc_id, b,
            SUM(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
          FROM tokh, bits GROUP BY doc_id, b
        ),
        sigs AS (
          SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END)::HUGEINT AS sig
          FROM votes GROUP BY doc_id
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3""")),

    // embedding near-dup pairs above a cosine threshold (exact).
    QueryDef("llm_dedup_embedding",
      (s, dir) => Similarity.nearDupPairs(t(s, dir, "embeddings"), threshold = 0.4),
      Some(cosineSql("a.vec_id < b.vec_id") +
        """ SELECT vec_id AS id_a, neighbor_id AS id_b, cos_sim
          FROM sims WHERE cos_sim >= 0.4""")),

    // SemDeDup-style cluster-scoped semantic dedup — LINEAR where
    // llm_dedup_embedding is quadratic: vectors score only against their
    // sign-grid cell's min-id representative (see Similarity.semDedup).
    QueryDef("llm_semdedup",
      (s, dir) => Similarity.semDedup(t(s, dir, "embeddings"), threshold = 0.2),
      Some("""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings
          WHERE sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) > 0.0),
        cells AS (SELECT vec_id, e,
            (CASE WHEN e[1] >= 0 THEN 1 ELSE 0 END)
          + (CASE WHEN e[2] >= 0 THEN 2 ELSE 0 END)
          + (CASE WHEN e[3] >= 0 THEN 4 ELSE 0 END)
          + (CASE WHEN e[4] >= 0 THEN 8 ELSE 0 END)
          + (CASE WHEN e[5] >= 0 THEN 16 ELSE 0 END)
          + (CASE WHEN e[6] >= 0 THEN 32 ELSE 0 END)
          + (CASE WHEN e[7] >= 0 THEN 64 ELSE 0 END)
          + (CASE WHEN e[8] >= 0 THEN 128 ELSE 0 END) AS cell
          FROM emb),
        reps AS (SELECT cell, MIN(vec_id) AS rep_id FROM cells GROUP BY cell),
        r AS (SELECT reps.cell, reps.rep_id, c.e AS re
          FROM reps JOIN cells c ON c.vec_id = reps.rep_id)
        SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, r.rep_id,
          round(list_dot_product(c.e, r.re) /
            (sqrt(list_dot_product(c.e, c.e)) *
             sqrt(list_dot_product(r.re, r.re))), 6) AS cos_sim
        FROM cells c JOIN r ON c.cell = r.cell
        WHERE c.vec_id <> r.rep_id
          AND round(list_dot_product(c.e, r.re) /
            (sqrt(list_dot_product(c.e, c.e)) *
             sqrt(list_dot_product(r.re, r.re))), 6) >= 0.2""")),

    // brute-force cosine top-k — the ANN correctness baseline.
    QueryDef("llm_ann_topk",
      (s, dir) => Similarity.bruteKnn(t(s, dir, "embeddings"), k = 3)
        .withColumnRenamed("rank", "knn_rank"),
      Some(cosineSql("a.vec_id <> b.vec_id") +
        """ SELECT vec_id, neighbor_id, cos_sim, knn_rank FROM (
          SELECT vec_id, neighbor_id, cos_sim,
            row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id)
              AS knn_rank
          FROM sims) r WHERE knn_rank <= 3""")),

    // LSH-bucketed ANN — approximate RECALL by construction (vs the brute
    // baseline, asserted in SimilaritySpec), but a deterministic ALGORITHM:
    // the hyperplane signs are data-independent constants (splitmix64 of
    // (seed, bit, dim), precomputed and inlined below), projections
    // accumulate in index order in double on both engines
    // (list_dot_product), and bucketing/probing/ranking are relational.
    // So the oracle reproduces the same approximate answer bit-exactly.
    QueryDef("llm_ann_lsh",
      (s, dir) => Similarity.lshKnn(t(s, dir, "embeddings"), k = 3, bits = 8, probeBits = 1)
        .withColumnRenamed("rank", "knn_rank"),
      Some("""WITH signs(b, s) AS (VALUES
          (0, [-1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0]),
          (1, [1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0]),
          (2, [1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0]),
          (3, [-1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0]),
          (4, [-1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0]),
          (5, [-1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0]),
          (6, [1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0]),
          (7, [-1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0])),
        emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
          WHERE sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 0.0),
        sigs AS (
          SELECT vec_id, SUM(CASE WHEN list_dot_product(e, s) >= 0.0 THEN (1 << b) ELSE 0 END)::BIGINT AS sg
          FROM emb, signs GROUP BY vec_id),
        probes(p) AS (VALUES (0),(1),(2),(4),(8),(16),(32),(64),(128)),
        q AS (SELECT emb.vec_id, e, xor(sg, p::BIGINT) AS bucket
              FROM emb JOIN sigs USING (vec_id), probes),
        c AS (SELECT emb.vec_id AS neighbor_id, e AS eb, sg AS bucket
              FROM emb JOIN sigs USING (vec_id)),
        scored AS (
          SELECT DISTINCT q.vec_id, c.neighbor_id,
            round(list_dot_product(q.e, c.eb) /
              (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.eb, c.eb))), 6) AS cos_sim
          FROM q JOIN c ON q.bucket = c.bucket AND q.vec_id <> c.neighbor_id)
        SELECT vec_id, neighbor_id, cos_sim, knn_rank FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS knn_rank
          FROM scored) r
        WHERE knn_rank <= 3""")),

    // IVF ANN — k-means coarse quantizer + nprobe cell search. Approximate
    // RECALL (asserted vs brute in SimilaritySpec) but a deterministic,
    // cross-engine-reproducible ALGORITHM: seeding is splitmix64(vec_id)
    // order (the HUGEINT CTE machinery), per-dim means are exact
    // DECIMAL(28,10) sums (order-independent) rounded to 6 dp, distances
    // accumulate in index order (list_sum over list_transform mirrors the
    // Scala fold), ties go to the lowest cell. The oracle unrolls the 10
    // Lloyd iterations as MATERIALIZED CTE stages (inlining would expand
    // the chain 3^10-fold) and reproduces the quantizer bit-exactly.
    QueryDef("llm_ann_ivf",
      (s, dir) => Similarity.ivfKnn(t(s, dir, "embeddings"), k = 3, nlist = 16, nprobe = 4)
        .withColumnRenamed("rank", "knn_rank"),
      Some("""WITH
samp AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 65536)),
h1 AS (SELECT vec_id, e, (vec_id::HUGEINT + 11400714819323198485) % 18446744073709551616 AS ka FROM samp),
h2 AS (SELECT *, (((xor(ka, ka >> 30)) % 4294967296) * ((13787848793156543929) % 4294967296) + ((((xor(ka, ka >> 30)) // 4294967296) * ((13787848793156543929) % 4294967296) + ((xor(ka, ka >> 30)) % 4294967296) * ((13787848793156543929) // 4294967296)) % 4294967296) * 4294967296) % 18446744073709551616 AS kb FROM h1),
h3 AS (SELECT *, (((xor(kb, kb >> 27)) % 4294967296) * ((10723151780598845931) % 4294967296) + ((((xor(kb, kb >> 27)) // 4294967296) * ((10723151780598845931) % 4294967296) + ((xor(kb, kb >> 27)) % 4294967296) * ((10723151780598845931) // 4294967296)) % 4294967296) * 4294967296) % 18446744073709551616 AS kc FROM h2),
hm AS (SELECT vec_id, e,
  CASE WHEN xor(kc, kc >> 31) >= 9223372036854775808 THEN (xor(kc, kc >> 31) - 18446744073709551616)::BIGINT
       ELSE xor(kc, kc >> 31)::BIGINT END AS m FROM h3),
c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY m, vec_id) - 1 AS cell, e AS c
       FROM hm ORDER BY m, vec_id LIMIT 16),
dims AS (SELECT unnest(range(1, 65))::INT AS dim),
a1 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, c0 c) z WHERE rn = 1),
m1 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a1 a JOIN samp s USING (vec_id), dims d GROUP BY a.cell, d.dim),
c1 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM c0 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM m1 GROUP BY cell) lm
    USING (cell)),
a2 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, c1 c) z WHERE rn = 1),
m2 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a2 a JOIN samp s USING (vec_id), dims d GROUP BY a.cell, d.dim),
c2 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM c1 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM m2 GROUP BY cell) lm
    USING (cell)),
a3 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, c2 c) z WHERE rn = 1),
m3 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a3 a JOIN samp s USING (vec_id), dims d GROUP BY a.cell, d.dim),
c3 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM c2 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM m3 GROUP BY cell) lm
    USING (cell)),
a4 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, c3 c) z WHERE rn = 1),
m4 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a4 a JOIN samp s USING (vec_id), dims d GROUP BY a.cell, d.dim),
c4 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM c3 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM m4 GROUP BY cell) lm
    USING (cell)),
a5 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, c4 c) z WHERE rn = 1),
m5 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a5 a JOIN samp s USING (vec_id), dims d GROUP BY a.cell, d.dim),
c5 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM c4 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM m5 GROUP BY cell) lm
    USING (cell)),
a6 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, c5 c) z WHERE rn = 1),
m6 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a6 a JOIN samp s USING (vec_id), dims d GROUP BY a.cell, d.dim),
c6 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM c5 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM m6 GROUP BY cell) lm
    USING (cell)),
a7 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, c6 c) z WHERE rn = 1),
m7 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a7 a JOIN samp s USING (vec_id), dims d GROUP BY a.cell, d.dim),
c7 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM c6 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM m7 GROUP BY cell) lm
    USING (cell)),
a8 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, c7 c) z WHERE rn = 1),
m8 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a8 a JOIN samp s USING (vec_id), dims d GROUP BY a.cell, d.dim),
c8 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM c7 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM m8 GROUP BY cell) lm
    USING (cell)),
a9 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, c8 c) z WHERE rn = 1),
m9 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a9 a JOIN samp s USING (vec_id), dims d GROUP BY a.cell, d.dim),
c9 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM c8 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM m9 GROUP BY cell) lm
    USING (cell)),
a10 AS MATERIALIZED (SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (s.e[i] - c.c[i]) * (s.e[i] - c.c[i]))), c.cell) AS rn
    FROM samp s, c9 c) z WHERE rn = 1),
m10 AS (SELECT a.cell, d.dim,
    round(CAST(SUM(CAST(s.e[d.dim] AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a10 a JOIN samp s USING (vec_id), dims d GROUP BY a.cell, d.dim),
c10 AS MATERIALIZED (SELECT p.cell, coalesce(lm.c, p.c) AS c
  FROM c9 p LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS c FROM m10 GROUP BY cell) lm
    USING (cell)),
emba AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) > 0.0),
probe AS (SELECT vec_id, cell FROM (
    SELECT q.vec_id, c.cell,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (q.e[i] - c.c[i]) * (q.e[i] - c.c[i]))), c.cell) AS rn
    FROM emba q, c10 c) z WHERE rn <= 4),
assign AS (SELECT vec_id AS neighbor_id, cell FROM (
    SELECT b.vec_id, c.cell,
      row_number() OVER (PARTITION BY b.vec_id ORDER BY list_sum(list_transform(range(1, 65), i -> (b.e[i] - c.c[i]) * (b.e[i] - c.c[i]))), c.cell) AS rn
    FROM emba b, c10 c) z WHERE rn = 1),
scored AS (
  SELECT p.vec_id, a.neighbor_id,
    round(list_dot_product(q.e, b.e) /
      (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos_sim
  FROM probe p JOIN assign a USING (cell)
  JOIN emba q ON q.vec_id = p.vec_id
  JOIN emba b ON b.vec_id = a.neighbor_id
  WHERE p.vec_id <> a.neighbor_id)
SELECT vec_id, neighbor_id, cos_sim, knn_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS knn_rank
  FROM scored) r WHERE knn_rank <= 3""")),

    // Product-quantization ADC top-k (Jégou et al. 2011) — the embedding
    // COMPRESSION path: 64 floats (256 B) become m=4 sub-codes, and every
    // query scans the code table instead of the raw vectors. Exactly
    // reproducible like llm_ann_ivf: seeds by (mix64(id), id), per-
    // subspace Lloyd with DECIMAL(28,10) sums rounded to 6 dp (2
    // iterations unrolled in pqOracleCommon), and ADC distances as
    // integer MICRO units summed order-free — the oracle re-derives
    // codebooks, codes, and the ranking bit-for-bit.
    QueryDef("llm_ann_pq",
      (s, dir) => Similarity.pqKnn(t(s, dir, "embeddings"), k = 3,
        m = 4, ksub = 8, iters = 2)
        .withColumnRenamed("rank", "knn_rank"),
      Some(pqOracleCommon + """
SELECT vec_id, neighbor_id, adc_dist, knn_rank FROM (
  SELECT vec_id, neighbor_id, adc_dist,
    row_number() OVER (PARTITION BY vec_id ORDER BY adc_dist, neighbor_id) AS knn_rank
  FROM pairs) r WHERE knn_rank <= 3""")),

    // ADC-then-refine (the production PQ shape): the compressed scan
    // cuts rerankFactor*k candidates per query, exact round6 cosine
    // re-ranks only those. The oracle extends the shared PQ derivation
    // with the same cut + exact re-rank, so the COMPOSITION is pinned
    // bit-for-bit too.
    QueryDef("llm_ann_pq_rerank",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.pqKnnRerank(emb, emb, k = 3, rerankFactor = 2,
          m = 4, ksub = 8, iters = 2)
          .withColumnRenamed("rank", "knn_rank")
      },
      Some(pqOracleCommon + """,
cand AS (SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, neighbor_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY adc_dist, neighbor_id) AS rn
    FROM pairs) r WHERE rn <= 6),
rer AS (SELECT c.vec_id, c.neighbor_id,
    round(list_dot_product(qa.e0, qb.e0) / (qa.nrm * qb.nrm), 6) AS cos_sim
  FROM cand c JOIN raw qa ON qa.vec_id = c.vec_id
              JOIN raw qb ON qb.vec_id = c.neighbor_id)
SELECT vec_id, neighbor_id, cos_sim, knn_rank FROM (
  SELECT vec_id, neighbor_id, cos_sim,
    row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS knn_rank
  FROM rer) r WHERE knn_rank <= 3""")),

    // IVFADC — coarse cells prune candidates, PQ codes compress scoring
    // (the configuration production ANN runs at 100 TB), in the
    // RESIDUAL form of Jégou §IV: PQ codebooks train on and quantize
    // r = x − centroid(cell(x)), and each query's ADC table is computed
    // per probed cell from rq = q − centroid(cell). Oracle extends the
    // shared derivation: the coarse quantizer is the SAME mix64 seed
    // pick trained over full 64-dim normalized vectors (2 Lloyd
    // blocks), residuals are one subtraction CTE over the final coarse
    // centroids, the PQ Lloyd blocks re-run on residual subspace
    // slices, and only same-cell pairs get the integer-micro ADC sum
    // against their probe cell's table — bit-exact.
    QueryDef("llm_ann_ivfpq",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfPqKnn(emb, emb, k = 3, nlist = 8, nprobe = 2,
          m = 4, ksub = 8, iters = 2)
          .withColumnRenamed("rank", "knn_rank")
      },
      Some(pqOracleCommon + ivfPqResidualTail + """
SELECT vec_id, neighbor_id, adc_dist, knn_rank FROM (
  SELECT vec_id, neighbor_id, adc_dist,
    row_number() OVER (PARTITION BY vec_id ORDER BY adc_dist, neighbor_id) AS knn_rank
  FROM ivpairs) r WHERE knn_rank <= 3""")),

    // distributed per-label centroids — the cluster-side rendering of the
    // IVF quantizer's training step (element-wise mean vector per group):
    // posexplode → one groupBy keyed (label, dim), map-side partial agg,
    // 64*labels output rows regardless of corpus size. Decimal-exact sum
    // then ONE double division keeps the result order-independent and
    // hash-identical across engines.
    QueryDef("llm_embedding_centroids",
      (s, dir) => t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "e")))
        .groupBy(col("label"), col("dim"))
        .agg(round(
          (sum(col("e").cast("double").cast("decimal(28,10)")).cast("double") /
            count(lit(1))), 6).as("centroid")),
      Some("""WITH x AS (SELECT label,
          unnest(generate_series(1, len(embedding))) AS ord, embedding
        FROM embeddings)
        SELECT label, ord - 1 AS dim,
          round(CAST(SUM(CAST(CAST(embedding[ord] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
            / COUNT(*), 6) AS centroid
        FROM x GROUP BY label, dim""")),

    // document chunking: fixed-size token windows with overlap (stride =
    // chunk - overlap) — the standard pre-tokenization split for long
    // documents. Pure narrow ops (split → explode → slice), so it
    // parallelizes per input split with no shuffle at any corpus size.
    QueryDef("llm_chunking",
      (s, dir) => {
        val chunk = 50; val overlap = 10; val stride = chunk - overlap
        t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
          .withColumn("start", explode(sequence(lit(0),
            greatest(size(col("tk")) - overlap - 1, lit(0)), lit(stride))))
          .select(col("doc_id"), col("start"),
            array_join(slice(col("tk"), col("start") + 1, lit(chunk)), " ").as("chunk_text"),
            least(size(col("tk")) - col("start"), lit(chunk)).as("n_tokens"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, ${utokSql()} AS tk FROM documents),
        chunks AS (SELECT doc_id,
          unnest(range(0, greatest(len(tk) - 10, 1), 40)) AS start, tk FROM toks)
        SELECT doc_id, start,
          array_to_string(tk[start+1:start+50], ' ') AS chunk_text,
          least(len(tk) - start, 50) AS n_tokens
        FROM chunks""")),

    // deterministic corpus shuffle + sharding for training: shard = first
    // md5 hex digit of the id (16 uniform shards, engine-portable), pack
    // order within the shard = md5 order. Everything is per-shard — the
    // only shuffle is the shard partitioning itself, and no global sort
    // exists anywhere, so the op scales linearly with executors.
    QueryDef("llm_shard_pack",
      (s, dir) => {
        val hx = md5(col("doc_id").cast("string"))
        val w = Window.partitionBy(col("shard")).orderBy(col("hx"), col("doc_id"))
        t(s, dir, "documents")
          .select(col("doc_id"), hx.as("hx"), substring(hx, 1, 1).as("shard"))
          .withColumn("pos", row_number().over(w))
          .select(col("doc_id"), col("shard"), col("pos"))
      },
      Some("""SELECT doc_id, shard,
          row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS pos
        FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard FROM documents) h""")),

    // sequence packing for training batches: group documents into
    // fixed-token-budget bins (next-fit on the deterministic shard/pack
    // order — a doc starts a new bin when the running total crosses the
    // budget). Same per-shard windows as llm_shard_pack, so the op is
    // embarrassingly parallel across shards; `div` keeps bin assignment
    // exact integer arithmetic in both engines.
    QueryDef("llm_pack_sequences",
      (s, dir) => {
        val budget = 512
        val hx = md5(col("doc_id").cast("string"))
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("hx"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
            hx.as("hx"), substring(hx, 1, 1).as("shard"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("bin", expr(s"(cum - n_tok) div $budget"))
          .groupBy(col("shard"), col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("bin_tokens"))
      },
      Some(s"""WITH h AS (SELECT doc_id,
          CAST(${utokCountSql()} AS BIGINT) AS n_tok,
          md5(CAST(doc_id AS VARCHAR)) AS hx,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
        FROM documents),
        c AS (SELECT doc_id, shard, n_tok,
          SUM(n_tok) OVER (PARTITION BY shard ORDER BY hx, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM h)
        SELECT shard, CAST((cum - n_tok) // 512 AS BIGINT) AS bin,
          COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        FROM c GROUP BY shard, bin""")),

    // deterministic stratified sampling: keep a doc iff its md5 prefix
    // falls under the rate threshold — reproducible across engines, runs
    // and cluster sizes (no RNG state), filter pushes to the scan.
    QueryDef("llm_sample_deterministic",
      (s, dir) => t(s, dir, "documents")
        .filter(substring(md5(col("text")), 1, 8) < "40000000") // rate = 0.25
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled")),
      Some("""SELECT source, COUNT(*) AS n_sampled FROM documents
        WHERE substr(md5(text), 1, 8) < '40000000' GROUP BY source""")),

    // deterministic WEIGHTED sampling (Efraimidis–Spirtakis A-ES, see
    // llm.Sampling): top-20 docs per source ranked by u^(1/w) with u
    // md5-derived and w = the doc's token count — longer docs more
    // likely kept, reproducibly, RNG-free. The oracle re-derives the
    // identical rank key in DuckDB ((52 md5 bits + 0.5) / 2^52 is exact
    // double arithmetic; pow rounded to 9 decimals on both sides
    // absorbs libm last-ulp differences) and ranks with the same
    // (key desc, id) window.
    QueryDef("llm_weighted_sample",
      (s, dir) => Sampling.weightedSample(
        t(s, dir, "documents")
          .withColumn("w", size(split(col("text"), " "))),
        groupCols = Seq("source"), idCol = "doc_id", weightCol = "w", k = 20)
        .select(col("source"), col("doc_id"), col("w").as("weight"),
          col("sample_rank")),
      Some("""WITH keyed AS (SELECT source, doc_id,
          len(string_split(text, ' ')) AS weight,
          round(pow(
            (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 0.5)
              / 4503599627370496.0,
            1.0 / len(string_split(text, ' '))), 9) AS k
        FROM documents WHERE len(string_split(text, ' ')) > 0)
        SELECT source, doc_id, weight, sample_rank FROM (
          SELECT source, doc_id, weight,
            row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS sample_rank
          FROM keyed) r WHERE sample_rank <= 20""")),

    // benchmark decontamination: training docs sharing 8-gram shingles
    // with the eval set (source 'src0' stands in for the benchmark).
    // Production shape: the eval shingle set is small and broadcasts;
    // the training side streams through the join and aggregates per
    // doc — the standard n-gram-overlap decontamination sweep. Shingles
    // build from a materialized token array (interpreted-HOF lesson).
    QueryDef("llm_decontaminate",
      (s, dir) => {
        val toksed = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextFunctions.tokens(col("text")).as("toks"))
          .repartition(s.sparkContext.defaultParallelism)
        val sh = toksed.select(col("doc_id"), col("source"),
          explode(expr("array_distinct(transform(" +
            "sequence(0, greatest(size(toks)-8, 0))," +
            " i -> concat_ws(' ', slice(toks, i+1, 8))))")).as("s"))
        val evalSet = sh.filter(col("source") === "src0")
          .select(col("s")).distinct()
        sh.filter(col("source") =!= "src0")
          .join(broadcast(evalSet), "s")
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("s")).as("shared_ngrams"))
          .withColumn("contaminated", col("shared_ngrams") >= 20)
      },
      Some(s"""WITH toks AS (SELECT doc_id, source,
          ${utokSql()} AS tk FROM documents),
        sh AS (SELECT DISTINCT doc_id, source,
            array_to_string(tk[i:i+7], ' ') AS s
          FROM (SELECT doc_id, source, tk,
                unnest(range(1, greatest(len(tk)-6, 2))) AS i FROM toks) z),
        hits AS (SELECT t.doc_id, COUNT(DISTINCT t.s) AS shared_ngrams
          FROM sh t JOIN sh e ON t.s = e.s AND e.source = 'src0'
          WHERE t.source <> 'src0' GROUP BY t.doc_id)
        SELECT doc_id, CAST(shared_ngrams AS BIGINT) AS shared_ngrams,
          shared_ngrams >= 20 AS contaminated
        FROM hits""")),

    // document novelty: fraction of a doc's distinct 3-gram shingles
    // that appear NOWHERE else in the corpus (df = 1), as exact ppm.
    // The inverse of the repetition signals: how much new information a
    // doc contributes vs the corpus. Shape: shingle explode -> df count
    // (shuffle on uniformly-hashed shingles) -> join back -> per-doc agg.
    QueryDef("llm_novelty",
      (s, dir) => {
        val toksed = t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .repartition(s.sparkContext.defaultParallelism)
        val sh = toksed.select(col("doc_id"),
          explode(expr("array_distinct(transform(" +
            "sequence(0, greatest(size(toks)-3, 0))," +
            " i -> concat_ws(' ', slice(toks, i+1, 3))))")).as("s"))
        val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
        sh.join(dfreq, "s")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("unique_shingles"))
          .withColumn("novel_ppm",
            expr("unique_shingles * 1000000 div n_shingles"))
      },
      Some(s"""WITH toks AS (SELECT doc_id,
          ${utokSql()} AS tk FROM documents),
        sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
          FROM (SELECT doc_id, tk,
                unnest(range(1, greatest(len(tk)-1, 2))) AS i FROM toks) z),
        dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
        SELECT sh.doc_id, COUNT(*) AS n_shingles,
          CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS unique_shingles,
          CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS novel_ppm
        FROM sh JOIN dfreq ON sh.s = dfreq.s GROUP BY sh.doc_id""")),

    // source-mixing weights: per-language sampling rate that equalizes
    // the character budget across languages (down-sample every language
    // to the smallest one's volume) — the standard knob for retargeting
    // a corpus mix before training. Exact integer ppm; the per-group
    // totals are one partial-agg shuffle and the global min broadcasts.
    QueryDef("llm_mix_weights",
      (s, dir) => {
        val totals = t(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("lang_chars"))
        totals.crossJoin(
            totals.agg(min(col("lang_chars")).as("mn")))
          .select(col("lang"), col("n_docs"), col("lang_chars"),
            expr("mn * 1000000 div lang_chars").as("rate_ppm"))
      },
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS lang_chars
          FROM documents GROUP BY lang)
        SELECT lang, n_docs, lang_chars,
          CAST((SELECT MIN(lang_chars) FROM c) * 1000000 // lang_chars AS BIGINT) AS rate_ppm
        FROM c""")),

    // corpus token-frequency spectrum (the Zipf curve as count-of-counts
    // in exact log2 buckets — length(bin(c)) = floor(log2)+1, integer on
    // both engines, no float log). Two-level aggregation: term counts
    // shuffle by token (uniformly distributed keys), the spectrum is a
    // ~60-row second agg. The canonical "vocabulary profile" job.
    QueryDef("llm_zipf_spectrum",
      (s, dir) => t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(length(bin(col("c"))).as("freq_bucket"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("c")).cast("long").as("n_occurrences")),
      Some(s"""WITH t AS (SELECT unnest(${utokSql()}) AS tok
          FROM documents),
        c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok)
        SELECT CAST(length(bin(c)) AS INT) AS freq_bucket,
          COUNT(*) AS n_terms, CAST(SUM(c) AS BIGINT) AS n_occurrences
        FROM c GROUP BY 1""")),

    // repetition quality signals (the Gopher/MassiveText repetition
    // filters, Rae et al. 2021 §A1.1): duplicate word / 2-gram / 3-gram
    // fractions and the most-frequent-2-gram share, all as exact ppm
    // integers (k*1e6 div n — cross-engine-safe, no float rounding).
    // The per-row fractions are one narrow codegen pass over the token
    // array; the top-gram share is the only shuffle (explode + partial
    // agg on (doc_id, gram)).
    QueryDef("llm_repetition",
      (s, dir) => {
        // tokenize ONCE and spread across a repartition (single-file
        // inputs scan as one partition), then compute each dup fraction
        // with the codegen DupNgramPpm expression — one pass per row per
        // n, inside whole-stage codegen, no interpreted lambdas. Both
        // consumers below reuse the exchange. (An earlier HOF
        // formulation re-ran the regex split per n-gram element on one
        // core — the levenshtein incident shape; see ROUND2.md.)
        val toksed = t(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .repartition(s.sparkContext.defaultParallelism)
        val base = toksed.select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          DupNgramPpm(col("toks"), 1).as("dup_word_ppm"),
          DupNgramPpm(col("toks"), 2).as("dup_2gram_ppm"),
          DupNgramPpm(col("toks"), 3).as("dup_3gram_ppm"))
        val topg = toksed
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, greatest(size(toks)-2, 0))," +
              " i -> concat_ws(' ', slice(toks, i+1, 2)))")).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(expr("max(c) * 1000000 div sum(c)").as("top_2gram_ppm"))
        base.join(topg, "doc_id")
      },
      Some(s"""WITH base AS (
          SELECT doc_id, ${utokSql()} AS toks
          FROM documents),
        g AS (SELECT doc_id, toks,
          list_transform(range(0, greatest(len(toks)-2,0)+1),
            i -> array_to_string(toks[i+1:i+2], ' ')) AS g2,
          list_transform(range(0, greatest(len(toks)-3,0)+1),
            i -> array_to_string(toks[i+1:i+3], ' ')) AS g3
          FROM base),
        flat AS (SELECT doc_id, unnest(g2) AS gram FROM g),
        cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM flat GROUP BY 1, 2),
        topg AS (SELECT doc_id,
          CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS top_2gram_ppm
          FROM cnt GROUP BY doc_id)
        SELECT g.doc_id,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST((len(toks) - len(list_distinct(toks))) * 1000000 // len(toks) AS BIGINT) AS dup_word_ppm,
          CAST((len(g2) - len(list_distinct(g2))) * 1000000 // len(g2) AS BIGINT) AS dup_2gram_ppm,
          CAST((len(g3) - len(list_distinct(g3))) * 1000000 // len(g3) AS BIGINT) AS dup_3gram_ppm,
          topg.top_2gram_ppm
        FROM g JOIN topg USING (doc_id)""")),

    // text statistics: counts, ratios, and the rolling-hash fingerprint.
    QueryDef("llm_text_stats",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.lexTokenCount(col("text")).as("n_lex_tokens"),
          // NULL for token-less docs: ANSI mode throws DIVIDE_BY_ZERO
          // even for double division
          when(TextFunctions.tokenCount(col("text")) === 0, lit(null))
            .otherwise(round(length(col("text")).cast("double") /
              TextFunctions.tokenCount(col("text")).cast("double"), 6))
            .as("chars_per_token"),
          TextFunctions.fingerprint(col("text")).as("fingerprint")),
      Some(s"""SELECT doc_id, length(text) AS n_chars,
        CAST(${utokCountSql()} AS INT) AS n_tokens,
        CAST(len(regexp_extract_all(text, '${TextFunctions.LexTokenPattern}')) AS INT) AS n_lex_tokens,
        CASE WHEN ${utokCountSql()} = 0 THEN NULL
          ELSE round(CAST(length(text) AS DOUBLE) / CAST(${utokCountSql()} AS DOUBLE), 6)
        END AS chars_per_token,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(regexp_extract_all(text, '.'), c -> CAST(unicode(c) AS BIGINT))),
          (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
        FROM documents""")),

    // heuristic language ID: CJK ratio then stopword votes, tie-broken
    // en > de > fr > es. The oracle replicates the heuristic verbatim.
    QueryDef("llm_langid",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n")),
      Some {
        def hits(words: Seq[String]): String =
          s"len(regexp_extract_all(' ' || lower(text) || ' ', " +
            s"'${TextFunctions.wordHitsPattern(words)}'))"
        s"""WITH scored AS (SELECT doc_id, length(text) AS n_chars,
          len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk,
          ${hits(TextFunctions.StopwordsEn)} AS s_en,
          ${hits(TextFunctions.StopwordsDe)} AS s_de,
          ${hits(TextFunctions.StopwordsFr)} AS s_fr,
          ${hits(TextFunctions.StopwordsEs)} AS s_es
          FROM documents),
        pred AS (SELECT doc_id,
          CASE WHEN n_chars > 0 AND cjk * 4 >= n_chars THEN 'zh'
            WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS lang_pred
          FROM scored)
        SELECT lang_pred, COUNT(*) AS n FROM pred GROUP BY lang_pred"""
      }),

    // normalized dedup: case/punct/whitespace-insensitive content hash —
    // catches formatting-only duplicates exact dedup misses.
    QueryDef("llm_dedup_normalized",
      (s, dir) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
        val docs = t(s, dir, "documents").select(col("doc_id"), norm.as("text"))
        val shouting = docs.select((col("doc_id") + 100000L).as("doc_id"),
          upper(col("text")).as("text"))
        // re-normalize the mutated copies inside the op under test
        Dedup.exact(
          docs.unionByName(shouting).select(col("doc_id"),
            trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
              " +", " ")).as("text")),
          "text", "doc_id")
      },
      Some("""WITH n AS (SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
            ' +', ' ', 'g')) AS t
        FROM documents)
        SELECT md5(t) AS content_hash, min(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM (SELECT doc_id, t FROM n UNION ALL SELECT doc_id + 100000, t FROM n) u
        GROUP BY md5(t)""")),

    // stopword-removal text cleaning — a standard pre-tokenization pass.
    QueryDef("llm_text_clean",
      (s, dir) => {
        val stops = array(TextFunctions.StopwordsEn.map(lit): _*)
        val toks = split(lower(col("text")), " ")
        t(s, dir, "documents").select(col("doc_id"),
          concat_ws(" ", filter(toks, t => !array_contains(stops, t))).as("cleaned"),
          size(filter(toks, t => array_contains(stops, t))).as("n_removed"))
      },
      Some {
        val stopList = TextFunctions.StopwordsEn.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""SELECT doc_id,
          array_to_string(list_filter(string_split(lower(text), ' '),
            t -> NOT list_contains($stopList, t)), ' ') AS cleaned,
          len(list_filter(string_split(lower(text), ' '),
            t -> list_contains($stopList, t))) AS n_removed
          FROM documents"""
      }),

    // dedup decision layer: connected components over the verified
    // near-dup graph + keep-best; oracle computes the same components
    // with a recursive transitive-closure CTE.
    QueryDef("llm_dedup_clusters",
      (s, dir) => Dedup.resolveClusters(t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, threshold = 0.5),
      Some(clustersOracle)),

    // same contract computed by the DISTRIBUTED component path
    // (large-star/small-star map-reduce CC instead of driver union-find)
    // — both hash-match the identical recursive-CTE oracle, proving the
    // scale path interchangeable with the small-scale one.
    QueryDef("llm_dedup_clusters_mr",
      (s, dir) => Dedup.resolveClusters(t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, threshold = 0.5, distributed = true),
      Some(clustersOracle)),

    // keep-best-QUALITY cluster resolution (resolveClustersBy): same
    // components, but each cluster keeps its highest-quality document
    // (the curation decision — a near-dup cluster's longest member is
    // often its most boilerplate-padded) with ties to the smallest id.
    // The oracle swaps only the ranked ORDER BY, joining the verified
    // quality twin.
    QueryDef("llm_dedup_clusters_best",
      (s, dir) => Dedup.resolveClustersBy(t(s, dir, "documents"), "text",
        "doc_id", shingleN = 3, threshold = 0.5,
        keepScore = TextFunctions.qualityScore(col("text"))),
      Some(clustersOracleWith(
        s" JOIN ($qualityOracle) q ON q.doc_id = d.doc_id",
        "q.quality DESC"))),

    // capstone composition — the actual curation pipeline a training-data
    // user runs: quality-filter the corpus, resolve near-dup clusters on
    // the survivors, keep the best of each cluster, report corpus stats.
    // Every stage is one of the verified operators; the oracle composes
    // the same verified SQL pieces.
    QueryDef("llm_curation_pipeline",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("quality", TextFunctions.qualityScore(col("text")))
          .filter(col("quality") >= 0.5)
        // keep each near-dup cluster's best-QUALITY member (the
        // curation keeper — resolveClustersBy), not its longest
        val kept = Dedup.resolveClustersBy(docs, "text", "doc_id",
            shingleN = 3, threshold = 0.5, keepScore = col("quality"))
          .filter(col("keep"))
        kept.join(docs, "doc_id")
          .agg(count(lit(1)).as("n_kept"),
            sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"),
            sum(col("quality").cast("decimal(10,6)")).cast("double").as("sum_quality"))
      },
      Some {
        val stopHits =
          s"len(regexp_extract_all(' ' || lower(text) || ' ', " +
            s"'${TextFunctions.wordHitsPattern(TextFunctions.StopwordsEn)}'))"
        s"""WITH RECURSIVE m AS (SELECT doc_id, text,
          CAST(length(text) AS DOUBLE) AS n_chars,
          CAST(${utokCountSql()} AS DOUBLE) AS n_tok,
          CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS alpha,
          CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
          CAST(""" + stopHits + s""" AS DOUBLE) AS stop
          FROM documents),
        q AS (SELECT doc_id, text, n_tok, round(
          least(n_chars / 200.0, 1.0) * 0.25
          + (CASE WHEN n_chars = 0 THEN 0.0 ELSE alpha / n_chars END) * 0.25
          + (1.0 - least((CASE WHEN n_chars = 0 THEN 0.0 ELSE punct / n_chars END) * 10.0, 1.0)) * 0.2
          + (CASE WHEN (CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END) >= 3.0
                AND (CASE WHEN n_tok = 0 THEN 0.0 ELSE n_chars / n_tok END) <= 10.0
              THEN 1.0 ELSE 0.5 END) * 0.15
          + least((CASE WHEN n_tok = 0 THEN 0.0 ELSE stop / n_tok END) * 4.0, 1.0) * 0.15,
          6) AS quality FROM m),
        fdocs AS (SELECT doc_id, text, n_tok, quality FROM q WHERE quality >= 0.5),
        toks AS (SELECT doc_id, ${utokSql()} AS tk FROM fdocs),
        sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
          FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 2))) AS i FROM toks) z),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        pairs AS (SELECT ia, ib FROM inter
          JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
          WHERE round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) >= 0.5),
        edges AS (SELECT ia AS a, ib AS b FROM pairs UNION ALL SELECT ib, ia FROM pairs),
        reach(a, b) AS (
          SELECT doc_id, doc_id FROM fdocs
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        root AS (SELECT a AS doc_id, min(b) AS cluster_root FROM reach GROUP BY a),
        ranked AS (SELECT d.doc_id, d.n_tok, d.quality,
            row_number() OVER (PARTITION BY r.cluster_root
              ORDER BY d.quality DESC, d.doc_id) AS rn
          FROM fdocs d JOIN root r ON d.doc_id = r.doc_id)
        SELECT COUNT(*) AS n_kept,
          CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
          CAST(SUM(CAST(quality AS DECIMAL(10,6))) AS DOUBLE) AS sum_quality
        FROM ranked WHERE rn = 1"""
      }),

    // Curation SCORECARD (llm.Curation / the llm.curation_scorecard
    // actor): the canonical gauntlet gopher → c4 → classifier → LM →
    // exact dedup with CUMULATIVE per-stage survivor counts — the
    // health dashboard a production curation run reports. Every stage
    // is an already-verified operator; the oracle joins the same
    // verified SQL pieces (gopher signals from the shared pattern
    // constants, the c4 line lambda, the md5-bucket stand-in
    // classifier, lmOracleSql in its train-on-all form) and re-counts.
    // Fixture planted so EVERY stage differentiates: most docs gain
    // terminal punctuation (C4's line rule needs it), every 17th gains
    // a 'lorem ipsum' contamination, and every 10th-mod-2 doc is
    // duplicated under a shifted id so the dedup stage has real work.
    QueryDef("llm_curation_scorecard",
      (s, dir) => {
        val planted = t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(3L)) > 0, lit("."))
              .otherwise(lit("")),
            when(pmod(col("doc_id"), lit(17L)) === 0, lit(" lorem ipsum"))
              .otherwise(lit(""))).as("text"))
        val fix = planted.unionByName(
          planted.filter(pmod(col("doc_id"), lit(10L)) === 2)
            .withColumn("doc_id", col("doc_id") + lit(100000L)))
        graft.llm.Curation.stageCounts(
          graft.llm.Curation.scorecard(fix, "text", "doc_id"))
      },
      Some {
        val u = TextFunctions.UTokenPattern
        val bucket =
          """((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096 +
           (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256 +
           (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16 +
           (instr('0123456789abcdef', substr(md5(tok), 4, 1)) - 1)) % 4096"""
        s"""WITH docs2 AS (SELECT doc_id,
    text || CASE WHEN doc_id % 3 > 0 THEN '.' ELSE '' END ||
      CASE WHEN doc_id % 17 = 0 THEN ' lorem ipsum' ELSE '' END AS text
  FROM documents),
fix AS MATERIALIZED (SELECT * FROM docs2
  UNION ALL SELECT doc_id + 100000, text FROM docs2 WHERE doc_id % 10 = 2),
gm AS (SELECT doc_id,
    CAST(len(tk) AS BIGINT) AS n_words,
    CAST(length(array_to_string(tk, '')) AS BIGINT) AS sum_len,
    CAST(len(regexp_extract_all(text,
      '${TextFunctions.AlphaTokenPattern}')) AS BIGINT) AS n_alpha,
    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
    CAST(len(regexp_extract_all(' ' || lower(text) || ' ',
      '${TextFunctions.wordHitsPattern(TextFunctions.GopherStops)}')) AS BIGINT) AS stop_hits
  FROM (SELECT doc_id, text, regexp_extract_all(text, '$u') AS tk
        FROM fix) g0),
gp AS (SELECT doc_id,
    (n_words BETWEEN 50 AND 100000)
    AND ((CASE WHEN n_words = 0 THEN 0
          ELSE (sum_len * 1000000) // n_words END)
         BETWEEN 3000000 AND 10000000)
    AND (CASE WHEN n_words = 0 THEN 0
         ELSE ((n_hash + n_ell) * 1000000) // n_words END) <= 100000
    AND (CASE WHEN n_words = 0 THEN 0
         ELSE (n_alpha * 1000000) // n_words END) >= 800000
    AND stop_hits >= 2 AS gopher_pass
  FROM gm),
cp AS (SELECT doc_id,
    NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
    AND CAST(len(list_filter(string_split(text, chr(10)), l ->
      len(regexp_extract_all(l, '$u')) >= 5
      AND regexp_matches(l, '[.!?"]$$')
      AND NOT contains(lower(l), 'javascript'))) AS BIGINT) >= 1 AS c4_pass
  FROM fix),
clf AS (SELECT t.doc_id, COALESCE(sc.score, 0) > 0 AS clf_pass
  FROM fix t LEFT JOIN (
    SELECT doc_id, CAST(SUM(b % 1001 - 500) AS BIGINT) AS score FROM (
      SELECT doc_id, $bucket AS b
      FROM (SELECT doc_id, unnest(regexp_extract_all(text, '$u')) AS tok
            FROM fix) tr) hb
    GROUP BY doc_id) sc ON sc.doc_id = t.doc_id),
lmp AS (SELECT d.doc_id, COALESCE(l.lm_score_ppm, 0) >= 32000 AS lm_pass
  FROM fix d LEFT JOIN (${lmOracleSqlOver("TRUE", "fix")}) l
    ON l.doc_id = d.doc_id),
ann AS (SELECT d.doc_id, d.text, gp.gopher_pass, cp.c4_pass,
    clf.clf_pass, lmp.lm_pass
  FROM fix d JOIN gp USING (doc_id) JOIN cp USING (doc_id)
  JOIN clf USING (doc_id) JOIN lmp USING (doc_id)),
keepers AS (SELECT min(doc_id) AS doc_id FROM ann
  WHERE gopher_pass AND c4_pass AND clf_pass AND lm_pass GROUP BY text)
SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
  CAST(COALESCE(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_gopher,
  CAST(COALESCE(SUM(CASE WHEN gopher_pass AND c4_pass THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_c4,
  CAST(COALESCE(SUM(CASE WHEN gopher_pass AND c4_pass AND clf_pass
    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_clf,
  CAST(COALESCE(SUM(CASE WHEN gopher_pass AND c4_pass AND clf_pass
    AND lm_pass THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_lm,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM keepers) AS n_kept
FROM ann"""
      }),

    // corpus term statistics: top-5 terms per source via the custom
    // TopKPerKey operator (map-side capping; an LLM-ops consumer of the
    // §2.5 custom-operator stack).
    QueryDef("llm_top_terms",
      (s, dir) => {
        val termCounts = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("n"))
        graft.plans.TopKPerKey(termCounts,
          keys = Seq(col("source")),
          order = Seq(col("n").desc, col("term").asc),
          k = 5, rankName = "rnk")
      },
      Some("""SELECT source, term, n, rnk FROM (
        SELECT source, term, n,
          row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rnk
        FROM (SELECT source, term, COUNT(*) AS n
          FROM (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents) x
          GROUP BY source, term) c) r
        WHERE rnk <= 5""")),

    // PII-style redaction pass: mask number runs and long tokens — the
    // shape of a scrubbing stage (regex families identical cross-engine).
    QueryDef("llm_redact",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "[0-9]+", "<NUM>").as("redacted"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_masked")),
      Some("""SELECT doc_id, regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
        len(regexp_extract_all(text, '[0-9]+')) AS n_masked
        FROM documents""")),

    // ---- multimodal (binary media columns; decode stage stubbed but
    // deterministic, so the full pipeline stays oracle-checkable) -------
    QueryDef("mm_image_meta",
      (s, dir) => {
        val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
          .filter(col("media_type") === "image")
          .withColumn("image_meta", Multimodal.decodeImageMeta(col("bytes")))
        media.select(col("media_id"),
          col("image_meta.width").as("width"),
          col("image_meta.height").as("height"),
          col("image_meta.channels").as("channels"),
          length(col("bytes")).as("n_bytes"))
      },
      Some("""SELECT doc_id AS media_id,
        16 + (length(text) * 31 + unicode(substring(text, 1, 1))) % 240 AS width,
        16 + (length(text) * 17 + unicode(substring(text, length(text), 1))) % 240 AS height,
        1 + length(text) % 3 AS channels,
        length(text) AS n_bytes
        FROM documents WHERE doc_id % 3 = 0""")),

    QueryDef("mm_resize",
      (s, dir) => {
        val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
          .filter(col("media_type") === "image")
          .withColumn("image_meta", Multimodal.decodeImageMeta(col("bytes")))
        Multimodal.resizeImages(media, maxSide = 128)
          .select(col("media_id"), col("resized_width"), col("resized_height"),
            length(col("resized_bytes")).as("payload_len"))
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
          16 + (length(text) * 31 + unicode(substring(text, 1, 1))) % 240 AS w,
          16 + (length(text) * 17 + unicode(substring(text, length(text), 1))) % 240 AS h,
          length(text) AS n
          FROM documents WHERE doc_id % 3 = 0)
        SELECT media_id,
          CAST(floor(w * least(1.0, CAST(128 AS DOUBLE) / greatest(w, h))) AS INT) AS resized_width,
          CAST(floor(h * least(1.0, CAST(128 AS DOUBLE) / greatest(w, h))) AS INT) AS resized_height,
          least(n, 64) AS payload_len
        FROM m""")),

    QueryDef("mm_frame_sample",
      (s, dir) => {
        val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
          .filter(col("media_type") === "video")
        Multimodal.sampleFrames(media, n = 4)
          .select(col("media_id"), col("frame_idx"), col("frame_len"))
      },
      Some("""SELECT doc_id AS media_id, frame_idx,
        greatest(length(text) // 4, 1) AS frame_len
        FROM documents, (SELECT unnest(range(4)) AS frame_idx) f
        WHERE doc_id % 3 = 2""")),

    QueryDef("mm_audio_stats",
      (s, dir) => {
        val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
          .filter(col("media_type") === "audio")
          .withColumn("audio_meta", Multimodal.decodeAudioMeta(col("bytes")))
        media.select(col("media_id"),
          round(col("audio_meta.duration_sec"), 6).as("duration_sec"),
          col("audio_meta.sample_rate").as("sample_rate"),
          round(col("audio_meta.mean_level"), 6).as("mean_level"))
      },
      Some("""SELECT doc_id AS media_id,
        round(CAST(length(text) AS DOUBLE) / 16000.0, 6) AS duration_sec,
        16000 AS sample_rate,
        round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(text, '.'), c -> CAST(unicode(c) AS BIGINT))),
          (a, b) -> a + b) AS DOUBLE) / length(text), 6) AS mean_level
        FROM documents WHERE doc_id % 3 = 1""")),

    // composite quality score; oracle replicates the exact arithmetic
    // (same operation order => identical doubles).
    QueryDef("llm_quality_score",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality")),
      Some(qualityOracle)),

    // feature-hashed linear classifier inference (fastText-style quality
    // filter, the CCNet-shape scoring pass): token -> md5 bucket ->
    // weight-vector lookup -> per-doc sum, all inside one codegen'd
    // HashedBowScore expression over a constant-folded weight array. The
    // deterministic weights stand in for trained coefficients; the
    // operator contract (bucket = first 4 md5 hex digits mod |W|) is
    // exact-integer and recomputed digit-by-digit by the oracle. Map-only:
    // no explode, no shuffle — classifier scoring at scan speed.
    QueryDef("llm_classifier_score",
      (s, dir) => {
        val weights = expr(
          "transform(sequence(0, 4095), b -> CAST(b % 1001 - 500 AS BIGINT))")
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tok"),
            HashedBowScore(col("toks"), weights).as("score"))
          .withColumn("positive", col("score") > 0L)
      },
      Some(s"""WITH toks AS (SELECT doc_id,
          ${utokSql()} AS tk FROM documents),
        tok_rows AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
        hb AS (SELECT doc_id,
          ((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096 +
           (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256 +
           (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16 +
           (instr('0123456789abcdef', substr(md5(tok), 4, 1)) - 1)) % 4096 AS b
          FROM tok_rows),
        sc AS (SELECT doc_id, CAST(SUM(b % 1001 - 500) AS BIGINT) AS score
          FROM hb GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tok, sc.score,
          sc.score > 0 AS positive
        FROM toks t JOIN sc ON t.doc_id = sc.doc_id""")),

    // multi-class prediction + confidence margin (Classifier.predict /
    // predictMargin — the CCNet-style "drop ambiguous-language pages"
    // gate): three deterministic stand-in models (per-label weight
    // formulas over the same md5 buckets — scoring/argmax/margin are
    // the operators under test; training has its own oracles), argmax
    // with sorted-label first-winner ties, margin = best − second in
    // exact micro integers. The oracle re-derives each label's score
    // digit-by-digit and the margin via the greatest/least identity
    // (second-best of 3 = sum − best − least).
    QueryDef("llm_langid_margin",
      (s, dir) => {
        val models = Seq("de", "en", "fr").zipWithIndex.map { case (l, j) =>
          l -> Array.tabulate(4096)(b =>
            ((b.toLong * (2 * j + 3)) % 1001L) - 500L)
        }
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            graft.llm.Classifier.predict(col("toks"), models).as("lang"),
            graft.llm.Classifier.predictMargin(col("toks"), models)
              .as("margin_micro"))
          .withColumn("confident", col("margin_micro") >= 1000L)
      },
      Some(s"""WITH toks AS (SELECT doc_id,
          ${utokSql()} AS tk FROM documents),
        tok_rows AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
        hb AS (SELECT doc_id,
          ((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096 +
           (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256 +
           (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16 +
           (instr('0123456789abcdef', substr(md5(tok), 4, 1)) - 1)) % 4096 AS b
          FROM tok_rows),
        sc AS (SELECT doc_id,
            CAST(SUM((b * 3) % 1001 - 500) AS BIGINT) AS s_de,
            CAST(SUM((b * 5) % 1001 - 500) AS BIGINT) AS s_en,
            CAST(SUM((b * 7) % 1001 - 500) AS BIGINT) AS s_fr
          FROM hb GROUP BY doc_id),
        m AS (SELECT doc_id, s_de, s_en, s_fr,
            greatest(s_de, s_en, s_fr) AS best,
            least(s_de, s_en, s_fr) AS worst
          FROM sc)
        SELECT t.doc_id,
          CASE WHEN m.s_de = m.best THEN 'de'
               WHEN m.s_en = m.best THEN 'en'
               ELSE 'fr' END AS lang,
          m.best - (m.s_de + m.s_en + m.s_fr - m.best - m.worst)
            AS margin_micro,
          m.best - (m.s_de + m.s_en + m.s_fr - m.best - m.worst) >= 1000
            AS confident
        FROM toks t JOIN m ON t.doc_id = m.doc_id""")),

    // hashed-BoW classifier TRAINING (llm.Classifier): deterministic
    // full-batch gradient descent in exact integer micro/ppm fixed
    // point over the same md5-bucket features HashedBowScore reads.
    // Planted linearly-separable labels: y = doc_id % 2, with two
    // class-cue tokens appended to each document — the trained weights
    // must separate them. The oracle unrolls the SAME iterations as
    // CTE blocks (the BPE-oracle discipline): margins by doc,
    // hard-sigmoid error in ppm (truncating division — the semantics
    // Spark div, DuckDB //, and Scala Long./ share), bucket gradients,
    // weight update — weights hash-exact.
    QueryDef("llm_classifier_train",
      (s, dir) => {
        val y = pmod(col("doc_id"), lit(2L))
        val planted = t(s, dir, "documents").select(col("doc_id"),
          y.as("y"),
          concat(col("text"), when(y === 1, lit(" quuxpos quuxpos"))
            .otherwise(lit(" quuxneg quuxneg"))).as("text"))
        graft.llm.Classifier.trainDf(planted, "text", "y", "doc_id",
          buckets = ClfBuckets, iters = ClfIters)
      },
      Some(classifierTrainOracle)),

    // Multi-class language ID, the CCNet-style upgrade of the stopword
    // heuristic: one-vs-rest hashed-BoW training over EIGHT planted
    // languages (Classifier.trainMulti) then argmax prediction
    // (Classifier.predict) — whole lifecycle in one query, hash-exact
    // against the per-label iteration-unrolled DuckDB twin. zh's
    // phrase carries no spaces: only the Unicode tokenizer gives the
    // classifier per-character features to learn from, so this row
    // also gates the tokenizer → classifier composition.
    QueryDef("llm_langid_clf",
      (s, dir) => {
        def caseByIdx(f: String => String) =
          LangClfLabels.zipWithIndex.foldLeft(lit(null).cast("string")) {
            case (acc, (l, i)) =>
              when(pmod(col("doc_id"), lit(8L)) === i, lit(f(l)))
                .otherwise(acc)
          }
        val fix = t(s, dir, "documents").select(col("doc_id"),
          caseByIdx(identity).as("lang"),
          concat(caseByIdx(LangClfPhrase), lit(" "),
            caseByIdx(LangClfPhrase), lit(" tag"),
            pmod(col("doc_id"), lit(7L))).as("text"))
        val models = graft.llm.Classifier.trainMulti(fix, "text", "lang",
          "doc_id", buckets = LangClfBuckets, iters = LangClfIters)
        val pred = // empty corpus trains zero models — and yields zero rows
          if (models.isEmpty) lit(null).cast("string")
          else graft.llm.Classifier.predict(
            TextFunctions.tokens(col("text")), models)
        fix.select(col("doc_id"), col("lang"), pred.as("lang_pred"))
      },
      Some(langClfOracle)),

    // char-n-gram language ID (the fastText feature family, Joulin et
    // al. 2017): word-BoW and char-2-5-gram one-vs-rest models train
    // side by side on the SAME corpus through the SAME one-pass
    // trainMulti (only the tokensOf feature extractor differs), then
    // both score SHORT unseen-word test docs. The word model misroutes
    // them (no seen token -> 0-margin tie -> first sorted label); the
    // n-gram model recovers every one. Whole double lifecycle
    // hash-exact against the iteration-unrolled DuckDB twin.
    QueryDef("llm_langid_ngram",
      (s, dir) => {
        def caseByIdx(f: String => String) =
          LangNgLabels.zipWithIndex.foldLeft(lit(null).cast("string")) {
            case (acc, (l, i)) =>
              when(pmod(col("doc_id"), lit(3L)) === i, lit(f(l)))
                .otherwise(acc)
          }
        val docs = t(s, dir, "documents")
        val train = docs.select(col("doc_id"),
          caseByIdx(identity).as("lang"),
          concat(caseByIdx(LangNgTrain), lit(" tag"),
            pmod(col("doc_id"), lit(7L))).as("text"))
        // the two trainings are independent (separate feature frames,
        // separate driver weight state) — overlapped jobs, guide §2.6
        val Seq(wordModels, ngModels) = graft.llm.Par.run(Seq(
          () => graft.llm.Classifier.trainMulti(train, "text",
            "lang", "doc_id", buckets = LangNgBuckets, iters = LangNgIters),
          () => graft.llm.Classifier.trainMulti(train, "text",
            "lang", "doc_id", buckets = LangNgBuckets, iters = LangNgIters,
            tokensOf = TextFunctions.charNgrams(_))))
        val tests = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
          .select(col("doc_id"), caseByIdx(identity).as("lang"),
            caseByIdx(LangNgTest).as("text"))
        val (pw, pg) = // empty corpus trains zero models — zero rows
          if (wordModels.isEmpty)
            (lit(null).cast("string"), lit(null).cast("string"))
          else (graft.llm.Classifier.predict(
              TextFunctions.tokens(col("text")), wordModels),
            graft.llm.Classifier.predict(
              TextFunctions.charNgrams(col("text")), ngModels))
        tests.select(col("doc_id"), col("lang"),
          pw.as("pred_word"), pg.as("pred_ngram"))
      },
      Some(langNgramOracle)),

    // exact-substring duplicated-span extraction (the "dedup the span,
    // not the document" pass of Lee et al. 2022, arXiv:2107.06499,
    // re-expressed relationally): every W-token window position is
    // hashed; windows occurring in >=2 distinct docs mark their
    // positions duplicated; contiguous duplicated positions merge into
    // cut-ranges via gaps-and-islands (pos - row_number). At scale the
    // window->doc-count agg shuffles on uniformly-distributed window
    // hashes (no skew), and spans merge inside a per-doc window — the
    // suffix-array machinery of the paper is replaced by two shuffles.
    // Windows travel as 64-bit WindowHashes (one codegen pass, no window
    // strings materialized or shuffled); the string-window oracle stays
    // the contract — equality holds absent a 64-bit collision, vanishing
    // odds at any corpus the driver runs. Implementation: Dedup.dupSpans.
    QueryDef("llm_dup_spans",
      (s, dir) => Dedup.dupSpans(t(s, dir, "documents"), w = 8),
      Some(s"""WITH toks AS (SELECT doc_id,
          ${utokSql()} AS tk FROM documents),
        wins AS (SELECT doc_id, i - 1 AS pos,
            array_to_string(tk[i:i+7], ' ') AS w
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
                FROM toks WHERE len(tk) >= 8) z),
        dupw AS (SELECT w FROM wins
          GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2),
        dp AS (SELECT doc_id, pos FROM wins JOIN dupw USING (w)),
        g AS (SELECT doc_id, pos,
            pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM dp)
        SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
          CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
          CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens
        FROM g GROUP BY doc_id, grp""")),

    // image near-dup pairing machinery under the oracle: the REAL
    // perceptual hash (Multimodal.imagePhashReal, JDK decode — spec-
    // tested in MultimodalSpec) cannot run in DuckDB, so this query
    // drives the SAME Dedup.hammingPairs bucketed join with a
    // SQL-reproducible 62-bit stub signature (forward + reversed
    // rolling-hash folds of the payload) over the media set unioned with
    // a shifted copy — every image doc pairs with its copy at hamming 0,
    // and the pigeonhole chunk join (7 chunks x 9 bits for maxDist=6) is
    // pinned cross-engine.
    QueryDef("mm_image_phash_pairs",
      (s, dir) => {
        val images = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
          .filter(col("media_type") === "image")
        // shift AFTER media selection (media_type keys off doc_id % 3,
        // so a shifted doc would land in a different modality)
        val media = images.unionByName(
          images.withColumn("media_id", col("media_id") + lit(100000L)))
        val txt = col("bytes").cast("string")
        val sigs = media.select(col("media_id").as("id"),
          (TextFunctions.fingerprint(txt) * lit(4294967296L) +
            TextFunctions.fingerprint(reverse(txt))).as("sig"))
        Dedup.hammingPairs(sigs, maxDist = 6)
      },
      Some("""WITH media AS (
          SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id + 100000 AS id, text FROM documents
          WHERE doc_id % 3 = 0),
        sigs AS (SELECT id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(text, '.'),
              c -> CAST(unicode(c) AS BIGINT))),
            (h, c) -> (h * 31 + c) % 1000000007) * 4294967296 +
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(reverse(text), '.'),
              c -> CAST(unicode(c) AS BIGINT))),
            (h, c) -> (h * 31 + c) % 1000000007) AS sig
          FROM media),
        chunked AS (SELECT id, sig, i AS chunk_idx,
            (sig >> CAST(i * 9 AS INT)) & 511 AS chunk_key
          FROM sigs CROSS JOIN (SELECT unnest(range(0, 7)) AS i) z),
        cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
            a.sig AS sig_a, b.sig AS sig_b
          FROM chunked a JOIN chunked b
            ON a.chunk_idx = b.chunk_idx AND a.chunk_key = b.chunk_key
              AND a.id < b.id)
        SELECT id_a, id_b,
          CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
        FROM cands WHERE bit_count(xor(sig_a, sig_b)) <= 6""")),

    // surgical decontamination: instead of DROPPING training docs that
    // overlap the benchmark (llm_decontaminate), cut exactly the
    // benchmark-covered token runs and keep the rest — the eval set's
    // (source 'src0') window hashes broadcast into one narrow join over
    // the training side (Dedup.decontaminateCut; the persisted-index
    // composition covers eval sets too big to broadcast).
    QueryDef("llm_decontaminate_cut",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.decontaminateCut(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), w = 8)
      },
      Some(s"""WITH etoks AS (SELECT doc_id,
          ${utokSql()} AS tk
          FROM documents WHERE source = 'src0'),
        ttoks AS (SELECT doc_id,
          ${utokSql()} AS tk
          FROM documents WHERE source <> 'src0'),
        ewins AS (SELECT DISTINCT array_to_string(tk[i:i+7], ' ') AS w
          FROM (SELECT tk, unnest(range(1, len(tk) - 6)) AS i
                FROM etoks WHERE len(tk) >= 8) z),
        twins AS (SELECT doc_id, i - 1 AS pos,
            array_to_string(tk[i:i+7], ' ') AS w
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
                FROM ttoks WHERE len(tk) >= 8) z),
        cuts AS (SELECT DISTINCT twins.doc_id, pos + o.off AS p
          FROM twins JOIN ewins USING (w)
          CROSS JOIN (SELECT unnest(range(0, 8)) AS off) o),
        tokrows AS (SELECT doc_id, i - 1 AS p, tk[i] AS tok
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
                FROM ttoks) z),
        kept AS (SELECT tr.doc_id, tr.p, tr.tok FROM tokrows tr
          WHERE NOT EXISTS (SELECT 1 FROM cuts c
            WHERE c.doc_id = tr.doc_id AND c.p = tr.p))
        SELECT k.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tok,
          COUNT(*) AS n_kept,
          string_agg(k.tok, ' ' ORDER BY k.p) AS clean_text
        FROM kept k JOIN ttoks t ON t.doc_id = k.doc_id
        GROUP BY k.doc_id, t.tk""")),

    // ...the INCREMENTAL form: a persisted window-hash index built from
    // the corpus once, then a batch (a shifted full copy of every 10th
    // doc — so each batch doc's whole range is corpus-covered) reports
    // its corpus-duplicated spans against the index alone. The oracle
    // recomputes the batch-vs-corpus window intersection quadratically
    // from the strings.
    QueryDef("llm_span_index",
      (s, dir) => {
        val idx = java.nio.file.Files.createTempDirectory("graft-span-idx-").toString
        val docs = t(s, dir, "documents")
        Dedup.spanBuildIndex(docs, "doc_id", "text", idx, w = 8)
        Dedup.spanIndexCompact(s, idx)
        val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(100000L))
        Dedup.spanIndexMatches(batch, "doc_id", "text", idx)
      },
      Some(s"""WITH ctoks AS (SELECT doc_id,
          ${utokSql()} AS tk FROM documents),
        btoks AS (SELECT doc_id + 100000 AS doc_id,
          ${utokSql()} AS tk
          FROM documents WHERE doc_id % 10 = 0),
        cwins AS (SELECT DISTINCT array_to_string(tk[i:i+7], ' ') AS w
          FROM (SELECT tk, unnest(range(1, len(tk) - 6)) AS i
                FROM ctoks WHERE len(tk) >= 8) z),
        bwins AS (SELECT doc_id, i - 1 AS pos,
            array_to_string(tk[i:i+7], ' ') AS w
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
                FROM btoks WHERE len(tk) >= 8) z),
        dp AS (SELECT doc_id, pos FROM bwins JOIN cwins USING (w)),
        g AS (SELECT doc_id, pos,
            pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM dp)
        SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
          CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
          CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens
        FROM g GROUP BY doc_id, grp""")),

    // ...and the APPLICATION of those cuts: rebuild each doc keeping one
    // corpus-wide copy (min doc_id) of every duplicated window — the
    // actual dedup transform of the paper, not just the report. See
    // Dedup.cutDupSpans for the position-level keep/cut rule.
    QueryDef("llm_dup_spans_cut",
      (s, dir) => Dedup.cutDupSpans(t(s, dir, "documents"), w = 8),
      Some(s"""WITH toks AS (SELECT doc_id,
          ${utokSql()} AS tk FROM documents),
        wins AS (SELECT doc_id, i - 1 AS pos,
            array_to_string(tk[i:i+7], ' ') AS w
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
                FROM toks WHERE len(tk) >= 8) z),
        dupw AS (SELECT w, MIN(doc_id) AS keeper FROM wins
          GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2),
        cuts AS (SELECT DISTINCT wins.doc_id, pos + o.off AS p
          FROM wins JOIN dupw USING (w)
          CROSS JOIN (SELECT unnest(range(0, 8)) AS off) o
          WHERE wins.doc_id <> dupw.keeper),
        tokrows AS (SELECT doc_id, i - 1 AS p, tk[i] AS tok
          FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
                FROM toks) z),
        kept AS (SELECT tr.doc_id, tr.p, tr.tok FROM tokrows tr
          WHERE NOT EXISTS (SELECT 1 FROM cuts c
            WHERE c.doc_id = tr.doc_id AND c.p = tr.p))
        SELECT k.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tok,
          COUNT(*) AS n_kept,
          string_agg(k.tok, ' ' ORDER BY k.p) AS clean_text
        FROM kept k JOIN toks t ON t.doc_id = k.doc_id
        GROUP BY k.doc_id, t.tk""")),

    // Gopher quality rules (Rae et al. 2021 Appendix A — the NAMED
    // filter set curation papers cite): word-count band, mean word
    // length band, symbol ('#'/'...') ratio cap, alphabetic-word
    // floor, required-stopword minimum — every signal exact integer
    // ppm, every rule a boolean column, `pass` their conjunction. The
    // oracle re-derives all five signals and the rule thresholds.
    QueryDef("llm_gopher_rules",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id") +: TextFunctions.gopherSignals(col("text"))
            .map { case (nm, c) => c.as(nm) }: _*)
          .withColumn("ok_words",
            col("n_words").between(50L, 100000L))
          .withColumn("ok_mean_len",
            col("mean_word_len_ppm").between(3000000L, 10000000L))
          .withColumn("ok_symbol", col("symbol_ppm") <= 100000L)
          .withColumn("ok_alpha", col("alpha_ppm") >= 800000L)
          .withColumn("ok_stops", col("stop_hits") >= 2L)
          .withColumn("pass", col("ok_words") && col("ok_mean_len") &&
            col("ok_symbol") && col("ok_alpha") && col("ok_stops"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, text,
          regexp_extract_all(text, '${TextFunctions.UTokenPattern}') AS tk
          FROM documents),
        m AS (SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS n_words,
          CAST(length(array_to_string(tk, '')) AS BIGINT) AS sum_len,
          CAST(len(regexp_extract_all(text,
            '${TextFunctions.AlphaTokenPattern}')) AS BIGINT) AS n_alpha,
          CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
          CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
          CAST(len(regexp_extract_all(' ' || lower(text) || ' ',
            '${TextFunctions.wordHitsPattern(TextFunctions.GopherStops)}')) AS BIGINT) AS stop_hits
          FROM tk),
        sig AS (SELECT doc_id, n_words,
          CASE WHEN n_words = 0 THEN 0
               ELSE (sum_len * 1000000) // n_words END AS mean_word_len_ppm,
          CASE WHEN n_words = 0 THEN 0
               ELSE ((n_hash + n_ell) * 1000000) // n_words END AS symbol_ppm,
          CASE WHEN n_words = 0 THEN 0
               ELSE (n_alpha * 1000000) // n_words END AS alpha_ppm,
          stop_hits FROM m)
        SELECT doc_id, n_words, mean_word_len_ppm, symbol_ppm, alpha_ppm,
          stop_hits,
          n_words BETWEEN 50 AND 100000 AS ok_words,
          mean_word_len_ppm BETWEEN 3000000 AND 10000000 AS ok_mean_len,
          symbol_ppm <= 100000 AS ok_symbol,
          alpha_ppm >= 800000 AS ok_alpha,
          stop_hits >= 2 AS ok_stops,
          (n_words BETWEEN 50 AND 100000)
            AND (mean_word_len_ppm BETWEEN 3000000 AND 10000000)
            AND symbol_ppm <= 100000 AND alpha_ppm >= 800000
            AND stop_hits >= 2 AS pass
        FROM sig""")),

    // The same Gopher signals on planted MIXED-SCRIPT text: Han + Thai
    // runs (scripts with no word spaces) interleaved with English.
    // Under whitespace tokenization such a doc is "one word" and every
    // band signal is noise; under UTokenPattern each CJK/Thai codepoint
    // is a word, so n_words counts characters — the oracle re-derives
    // the fixture AND the signals from the same shared pattern
    // constants, proving the Unicode path (not just the arithmetic) is
    // engine-exact.
    QueryDef("llm_gopher_rules_cjk",
      (s, dir) => {
        val hanPool = "天氣很好今天氣很好今天氣很好今" // 15 Han chars
        val han = lit(hanPool).substr(lit(1),
          ((pmod(col("doc_id"), lit(3L)) + 1) * 5).cast("int"))
        val thai = when(pmod(col("doc_id"), lit(4L)) === 0,
          lit("สวัสดี")).otherwise(lit(""))
        val text = concat(
          lit("the weather report says # conditions hold "),
          han, lit(" "), thai,
          when(pmod(col("doc_id"), lit(5L)) === 0, lit(" ...")).
            otherwise(lit(" done")))
        t(s, dir, "documents")
          .select(col("doc_id"), text.as("text"))
          .select(col("doc_id") +: TextFunctions.gopherSignals(col("text"))
            .map { case (nm, c) => c.as(nm) }: _*)
      },
      Some(s"""WITH rendered AS (SELECT doc_id,
          'the weather report says # conditions hold ' ||
          substring('天氣很好今天氣很好今天氣很好今', 1,
            CAST((doc_id % 3 + 1) * 5 AS INT)) || ' ' ||
          CASE WHEN doc_id % 4 = 0 THEN 'สวัสดี' ELSE '' END ||
          CASE WHEN doc_id % 5 = 0 THEN ' ...' ELSE ' done' END AS text
          FROM documents),
        tk AS (SELECT doc_id, text,
          regexp_extract_all(text, '${TextFunctions.UTokenPattern}') AS tk
          FROM rendered),
        m AS (SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS n_words,
          CAST(length(array_to_string(tk, '')) AS BIGINT) AS sum_len,
          CAST(len(regexp_extract_all(text,
            '${TextFunctions.AlphaTokenPattern}')) AS BIGINT) AS n_alpha,
          CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
          CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
          CAST(len(regexp_extract_all(' ' || lower(text) || ' ',
            '${TextFunctions.wordHitsPattern(TextFunctions.GopherStops)}')) AS BIGINT) AS stop_hits
          FROM tk)
        SELECT doc_id, n_words,
          CASE WHEN n_words = 0 THEN 0
               ELSE (sum_len * 1000000) // n_words END AS mean_word_len_ppm,
          CASE WHEN n_words = 0 THEN 0
               ELSE ((n_hash + n_ell) * 1000000) // n_words END AS symbol_ppm,
          CASE WHEN n_words = 0 THEN 0
               ELSE (n_alpha * 1000000) // n_words END AS alpha_ppm,
          stop_hits
        FROM m""")),

    // C4 cleaning rules (Raffel et al. 2020 §2.2 — the other NAMED
    // filter set): keep lines that end in terminal punctuation, carry
    // >= 5 words, and do not mention javascript; drop pages containing
    // "lorem ipsum" or '{' (code), or with < 3 surviving lines.
    // Fixture: documents re-render as 8-token lines with deterministic
    // punctuation/contamination planted by (doc_id, line) arithmetic —
    // identical construction in both engines; the line filter is the
    // same lambda in Spark HOFs and DuckDB list_filter.
    QueryDef("llm_c4_rules",
      (s, dir) => {
        val tk = split(col("text"), " ")
        val nChunks = ((size(tk) + 7) / 8).cast("long")
        val idxs = when(nChunks > 0, sequence(lit(0L), nChunks - 1))
          .otherwise(array().cast("array<bigint>"))
        val lines = transform(idxs, i => concat(
          array_join(slice(tk, (i * 8 + 1).cast("int"), lit(8)), " "),
          // line i of doc d ends with '.' unless (d + i) % 4 == 0;
          // every 11th line mentions javascript
          when(pmod(col("doc_id") + i, lit(11L)) === 0, lit(" javascript"))
            .otherwise(lit("")),
          when(pmod(col("doc_id") + i, lit(4L)) =!= 0, lit("."))
            .otherwise(lit(""))))
        val text = concat(
          array_join(lines, "\n"),
          when(pmod(col("doc_id"), lit(17L)) === 0, lit("\nlorem ipsum."))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13L)) === 0, lit("\nvar x = { y };"))
            .otherwise(lit("")))
        val doc = t(s, dir, "documents")
          .select(col("doc_id"), text.as("text"))
        val docLines = split(col("text"), "\n")
        val kept = TextFunctions.c4KeptLines(col("text"))
        doc.select(col("doc_id"),
            size(docLines).cast("long").as("n_lines"),
            size(kept).cast("long").as("n_kept_lines"),
            array_join(kept, "\n").as("clean_text"),
            lower(col("text")).contains("lorem ipsum").as("has_lorem"),
            col("text").contains("{").as("has_brace"))
          .withColumn("pass",
            !col("has_lorem") && !col("has_brace") &&
              col("n_kept_lines") >= 3L)
      },
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
          FROM documents),
        rendered AS (SELECT doc_id,
          array_to_string(list_transform(range(0, (len(tk) + 7) // 8),
            i -> array_to_string(tk[i * 8 + 1 : i * 8 + 8], ' ') ||
              CASE WHEN (doc_id + i) % 11 = 0 THEN ' javascript' ELSE '' END ||
              CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END),
            chr(10)) ||
          CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'lorem ipsum.' ELSE '' END ||
          CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'var x = { y };' ELSE '' END
          AS text FROM tk),
        sig AS (SELECT doc_id,
          CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
          list_filter(string_split(text, chr(10)), l ->
            len(regexp_extract_all(l, '${TextFunctions.UTokenPattern}')) >= 5
            AND regexp_matches(l, '[.!?"]$$')
            AND NOT contains(lower(l), 'javascript')) AS kept,
          contains(lower(text), 'lorem ipsum') AS has_lorem,
          contains(text, '{') AS has_brace
          FROM rendered)
        SELECT doc_id, n_lines,
          CAST(len(kept) AS BIGINT) AS n_kept_lines,
          coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
          has_lorem, has_brace,
          NOT has_lorem AND NOT has_brace AND len(kept) >= 3 AS pass
        FROM sig""")),

    // URL canonicalization (the crawl pipeline's FIRST dedup key): each
    // doc synthesizes a deterministic URL with tracking params and
    // fragments; the regexp-subset normalizer (Extract.normalizeUrlLite
    // — fragment + tracker removal, oracle generated from the SAME
    // pattern constants) collapses the variants, counted per canonical
    // URL. The full form (host/scheme casing, default ports, param
    // sorting) is the NormalizeUrl codegen expression, spec-verified —
    // RE2 has no backreferences, so it has no SQL twin by design.
    QueryDef("llm_url_normalize",
      (s, dir) => {
        val url = concat(lit("http://site"), pmod(col("doc_id"), lit(7L)),
          lit(".example.com/p/"), pmod(col("doc_id"), lit(50L)),
          when(pmod(col("doc_id"), lit(3L)) === 0,
            concat(lit("?utm_source=feed&utm_medium=rss&q="),
              pmod(col("doc_id"), lit(5L))))
            .when(pmod(col("doc_id"), lit(3L)) === 1,
              concat(lit("?q="), pmod(col("doc_id"), lit(5L)),
                lit("&fbclid=abc123")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4L)) === 0, lit("#frag"))
            .otherwise(lit("")))
        val normed = t(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
          .withColumn("norm_url", Extract.normalizeUrlLite(col("url")))
        val cnt = normed.groupBy(col("norm_url"))
          .agg(count(lit(1)).as("n_variants"))
        normed.join(cnt, "norm_url")
          .select(col("doc_id"), col("url"), col("norm_url"),
            col("n_variants"))
      },
      Some {
        val urlSql = """'http://site' || (doc_id % 7) || '.example.com/p/' ||
          (doc_id % 50) ||
          CASE WHEN doc_id % 3 = 0
               THEN '?utm_source=feed&utm_medium=rss&q=' || (doc_id % 5)
               WHEN doc_id % 3 = 1
               THEN '?q=' || (doc_id % 5) || '&fbclid=abc123'
               ELSE '' END ||
          CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END"""
        s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
          n AS (SELECT doc_id, url,
            ${Extract.normalizeUrlLiteSql("url")} AS norm_url FROM u),
          c AS (SELECT norm_url, COUNT(*) AS n_variants FROM n GROUP BY 1)
          SELECT n.doc_id, n.url, n.norm_url, c.n_variants
          FROM n JOIN c USING (norm_url)"""
      }),

    // link-density boilerplate classification (jusText-style,
    // Extract.mainContentBlocks): blocks explode to rows, classify by
    // integer length/link-density thresholds, reassemble in document
    // order — nav/footer link clusters drop, prose survives, and the
    // paragraph's own inline link flips the density verdict when the
    // document text is short (both branches live in the corpus). The
    // oracle re-derives the marked-text chain via the shared pattern
    // constants and the SAME integer arithmetic.
    QueryDef("llm_main_content",
      (s, dir) => {
        val html = concat(lit(MceFragA), col("doc_id"), lit(MceFragB),
          col("text"), lit(MceFragC))
        Extract.mainContentBlocks(
          t(s, dir, "documents").select(col("doc_id"), html.as("html")),
          "html", "doc_id")
      },
      Some {
        val marked = Extract.markedTextSql("html")
        val stripm = "regexp_replace(block, '[\\x02\\x03]', '', 'g')"
        val nonlink = "regexp_replace(regexp_replace(block, " +
          "'(?s)\\x02.*?\\x03', '', 'g'), '[\\x02\\x03]', '', 'g')"
        s"""WITH h AS (SELECT doc_id,
            '$MceFragA' || doc_id || '$MceFragB' || text || '$MceFragC'
              AS html FROM documents),
          m AS (SELECT doc_id, $marked AS marked FROM h),
          b AS (SELECT doc_id,
              unnest(string_split(marked, chr(1))) AS block,
              unnest(range(len(string_split(marked, chr(1))))) AS pos
            FROM m),
          f AS (SELECT doc_id, pos,
              regexp_replace($stripm, '^\\s+|\\s+$$', '', 'g') AS clean,
              length($stripm) AS raw_len,
              length($stripm) - length($nonlink) AS link_len
            FROM b),
          cl AS (SELECT *, (length(clean) >= 25 AND
              link_len * 1000 <= 300 * raw_len) AS good
            FROM f WHERE length(clean) > 0),
          agg AS (SELECT doc_id,
              COUNT(*) AS n_blocks,
              CAST(SUM(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT)
                AS n_good,
              coalesce(string_agg(CASE WHEN good THEN clean END,
                chr(10) ORDER BY pos), '') AS main_text
            FROM cl GROUP BY doc_id)
          SELECT d.doc_id, coalesce(a.n_blocks, 0) AS n_blocks,
            coalesce(a.n_good, 0) AS n_good,
            coalesce(a.main_text, '') AS main_text
          FROM documents d LEFT JOIN agg a USING (doc_id)"""
      }),

    // meta-robots consent (the page's own indexing directives —
    // Extract.metaRobotsDirectives/metaNoindex/metaNofollow): four
    // page shapes rotate — no robots meta, name-first double-quoted
    // noindex, content-first BARE-value noindex,nofollow (attribute
    // order and quoting must not matter), and an UPPERCASE
    // index,follow control (the \b test must not read 'follow' as
    // 'nofollow' or 'index' as 'noindex'). Oracle from the same
    // pattern constants.
    QueryDef("llm_meta_robots",
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(4L))
        val head = when(m === 1,
            lit("<meta name=\"robots\" content=\"noindex\">"))
          .when(m === 2, lit("<meta content=noindex,nofollow name=robots>"))
          .when(m === 3, lit("<META NAME=ROBOTS CONTENT=\"INDEX, FOLLOW\">"))
          .otherwise(lit("<meta charset=utf-8>"))
        val html = concat(lit("<html><head>"), head,
          lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
        t(s, dir, "documents")
          .select(col("doc_id"), html.as("html"))
          .select(col("doc_id"),
            Extract.metaRobotsDirectives(col("html")).as("directives"),
            Extract.metaNoindex(col("html")).as("noindex"),
            Extract.metaNofollow(col("html")).as("nofollow"))
      },
      Some {
        s"""WITH h AS (SELECT doc_id, '<html><head>' ||
            CASE doc_id % 4
              WHEN 1 THEN '<meta name="robots" content="noindex">'
              WHEN 2 THEN '<meta content=noindex,nofollow name=robots>'
              WHEN 3 THEN '<META NAME=ROBOTS CONTENT="INDEX, FOLLOW">'
              ELSE '<meta charset=utf-8>' END ||
            '</head><body><p>' || text || '</p></body></html>' AS html
          FROM documents)
          SELECT doc_id,
            ${Extract.metaRobotsDirectivesSql("html")} AS directives,
            ${Extract.metaNoindexSql("html")} AS noindex,
            ${Extract.metaNofollowSql("html")} AS nofollow
          FROM h"""
      }),

    // URL/domain blocklist filter (the stage RefinedWeb/FineWeb apply
    // FIRST, before a byte of content is parsed): host extraction,
    // registrable-domain derivation (multi-part ccTLD suffixes take
    // three labels), blocklist hit on domain OR exact host, and a URL
    // keyword rule. Five URL shapes rotate by doc_id — www subdomains
    // (must still hit via the registrable domain), userinfo@ + co.uk
    // (three-label domain), an explicit port (must not leak into the
    // host), a keyword path, and an exact-host entry that must block
    // one host without touching its siblings. The oracle re-derives
    // host/domain through the SQL twins generated from the SAME pattern
    // constants.
    QueryDef("llm_url_filter",
      (s, dir) => {
        val m = pmod(col("doc_id"), lit(5L))
        val url = when(m === 0, concat(lit("http://www.site"),
            pmod(col("doc_id"), lit(7L)), lit(".example.com/p/"),
            col("doc_id")))
          .when(m === 1, concat(lit("https://user@blog"),
            pmod(col("doc_id"), lit(3L)), lit(".co.uk/post?id="),
            col("doc_id")))
          .when(m === 2, concat(lit("http://ads.tracker"),
            pmod(col("doc_id"), lit(2L)), lit(".com:8080/banner"),
            col("doc_id")))
          .when(m === 3, concat(lit("https://news.example.org/casino/page"),
            col("doc_id")))
          .otherwise(concat(lit("http://shop"), pmod(col("doc_id"), lit(4L)),
            lit(".example.com/item"), col("doc_id")))
        val host = Extract.urlHost(col("url"))
        val dom = Extract.registrableDomain(col("host"))
        t(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
          .withColumn("host", host)
          .withColumn("domain", dom)
          .withColumn("reason",
            when(col("domain").isin(UrlBlockDomains: _*) ||
              col("host").isin(UrlBlockHosts: _*), "blocklist")
              .when(lower(col("url")).rlike(
                Extract.wordListPattern(UrlBlockKeywords)), "keyword")
              .otherwise(lit(null).cast("string")))
          .withColumn("kept", col("reason").isNull)
      },
      Some {
        val urlSql = """CASE doc_id % 5
            WHEN 0 THEN 'http://www.site' || (doc_id % 7) ||
              '.example.com/p/' || doc_id
            WHEN 1 THEN 'https://user@blog' || (doc_id % 3) ||
              '.co.uk/post?id=' || doc_id
            WHEN 2 THEN 'http://ads.tracker' || (doc_id % 2) ||
              '.com:8080/banner' || doc_id
            WHEN 3 THEN 'https://news.example.org/casino/page' || doc_id
            ELSE 'http://shop' || (doc_id % 4) || '.example.com/item' || doc_id
            END"""
        val domList = UrlBlockDomains.map(d => s"'$d'").mkString(", ")
        val hostList = UrlBlockHosts.map(h => s"'$h'").mkString(", ")
        s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
          h AS (SELECT doc_id, url,
            ${Extract.urlHostSql("url")} AS host FROM u),
          d AS (SELECT doc_id, url, host,
            ${Extract.registrableDomainSql("host")} AS domain FROM h)
          SELECT doc_id, url, host, domain,
            CASE WHEN domain IN ($domList) OR host IN ($hostList)
                 THEN 'blocklist'
                 WHEN regexp_matches(lower(url),
                   ${Extract.wordListPatternSqlLit(UrlBlockKeywords)})
                 THEN 'keyword'
                 ELSE NULL END AS reason,
            (CASE WHEN domain IN ($domList) OR host IN ($hostList)
                 THEN 'blocklist'
                 WHEN regexp_matches(lower(url),
                   ${Extract.wordListPatternSqlLit(UrlBlockKeywords)})
                 THEN 'keyword'
                 ELSE NULL END) IS NULL AS kept
          FROM d"""
      }),

    // word-list gate (the C4 "bad words" filter: any listed word,
    // whole-word case-insensitive, drops the page — kept as a COUNT so
    // ppm thresholds compose). Words plant by doc_id residue, including
    // a case variant and a punctuation-adjacent hit that only a \b
    // boundary (not space-delimited matching) catches.
    QueryDef("llm_badwords",
      (s, dir) => {
        val planted = when(pmod(col("doc_id"), lit(7L)) === 0,
            concat(col("text"), lit(" JACKPOT now")))
          .when(pmod(col("doc_id"), lit(7L)) === 1,
            concat(col("text"), lit(" win roulette, today")))
          .otherwise(col("text"))
        t(s, dir, "documents")
          .select(col("doc_id"), planted.as("text"))
          .withColumn("n_bad",
            Extract.badwordCount(col("text"), BadWordList))
          .withColumn("kept", col("n_bad") === 0L)
      },
      Some(s"""WITH p AS (SELECT doc_id,
          CASE WHEN doc_id % 7 = 0 THEN text || ' JACKPOT now'
               WHEN doc_id % 7 = 1 THEN text || ' win roulette, today'
               ELSE text END AS text FROM documents)
        SELECT doc_id, text,
          ${Extract.badwordCountSql("text", BadWordList)} AS n_bad,
          ${Extract.badwordCountSql("text", BadWordList)} = 0 AS kept
        FROM p""")),

    // paragraph-granular exact dedup (the MassiveText/Gopher "remove
    // duplicated paragraphs" pass, Dedup.dedupParagraphs): documents
    // re-render as 10-token paragraphs, every 5th doc prepends a
    // SHARED boilerplate paragraph — the op must keep exactly one
    // corpus-wide copy of each paragraph (first by (doc_id, pos)) and
    // rebuild docs in original order; all-cut docs keep an explicit
    // empty row. Oracle: the same keeper as a row_number window over
    // the paragraph hash.
    QueryDef("llm_dedup_paragraph",
      (s, dir) => {
        val tk = split(col("text"), " ")
        // (size+9)/10 chunks; Spark `/` is double division — the cast
        // truncates exactly (correctly-rounded IEEE division of small
        // ints). Empty text needs the explicit empty-array branch:
        // Spark's sequence(0, -1) counts DOWN, it is not empty.
        val nChunks = ((size(tk) + 9) / 10).cast("long")
        val idxs = when(nChunks > 0, sequence(lit(0L), nChunks - 1))
          .otherwise(array().cast("array<bigint>"))
        val paraText = array_join(transform(idxs,
          i => array_join(slice(tk, (i * 10 + 1).cast("int"), lit(10)), " ")),
          "\n")
        val withBoiler = when(pmod(col("doc_id"), lit(5L)) === 0,
          concat(lit(BoilerPara), lit("\n"), paraText))
          .otherwise(paraText)
        Dedup.dedupParagraphs(
          t(s, dir, "documents").select(col("doc_id"),
            withBoiler.as("text")),
          "text", "doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
          FROM documents),
        base AS (SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN '$BoilerPara' || chr(10) ||
            array_to_string(list_transform(range(0, (len(tk) + 9) // 10),
              i -> array_to_string(tk[i * 10 + 1 : i * 10 + 10], ' ')), chr(10))
          ELSE
            array_to_string(list_transform(range(0, (len(tk) + 9) // 10),
              i -> array_to_string(tk[i * 10 + 1 : i * 10 + 10], ' ')), chr(10))
          END AS text FROM tk),
        paras AS (SELECT doc_id, pos, para FROM (
            SELECT doc_id, unnest(string_split(text, chr(10))) AS para,
              unnest(range(len(string_split(text, chr(10))))) AS pos
            FROM base) x
          WHERE para <> ''),
        keep AS (SELECT doc_id, pos, para,
            row_number() OVER (PARTITION BY md5(para)
              ORDER BY doc_id, pos) AS rn
          FROM paras),
        counts AS (SELECT doc_id, COUNT(*) AS n_paras FROM paras GROUP BY 1),
        agg AS (SELECT doc_id, COUNT(*) AS n_kept,
            string_agg(para, chr(10) ORDER BY pos) AS clean_text
          FROM keep WHERE rn = 1 GROUP BY doc_id)
        SELECT c.doc_id, c.n_paras, coalesce(a.n_kept, 0) AS n_kept,
          coalesce(a.clean_text, '') AS clean_text
        FROM counts c LEFT JOIN agg a USING (doc_id)""")),

    // HTML -> text extraction (the raw-crawl front door, llm.Extract):
    // each document is wrapped into a deterministic HTML page — title,
    // style block, script with raw </>/&& operators, a commented-out
    // tag, entity-laden list items including a DOUBLE-escaped
    // "&amp;lt;" (must decode exactly one level) — then extracted back.
    // The oracle rebuilds the identical page and runs the chain via
    // Extract.extractTextSql, generated from the SAME pattern
    // constants so the engines cannot drift. Whole pass is codegen
    // regexp_replace; mainContent is the line-density boilerplate cut.
    QueryDef("llm_extract_text",
      (s, dir) => {
        val html = concat(lit(HtmlFragA), col("doc_id"), lit(HtmlFragB),
          col("doc_id"), lit(HtmlFragC), col("text"), lit(HtmlFragD))
        t(s, dir, "documents")
          .select(col("doc_id"), Extract.extractText(html).as("x"))
          .select(col("doc_id"), col("x").as("extracted"),
            length(col("x")).as("n_chars"),
            size(split(col("x"), "\n")).as("n_lines"),
            Extract.mainContent(col("x"), 8).as("main_text"))
      },
      Some {
        val x = Extract.extractTextSql("html")
        s"""WITH h AS (SELECT doc_id,
            '$HtmlFragA' || doc_id || '$HtmlFragB' || doc_id ||
            '$HtmlFragC' || text || '$HtmlFragD' AS html FROM documents),
          e AS (SELECT doc_id, $x AS x FROM h)
          SELECT doc_id, x AS extracted,
            CAST(length(x) AS INT) AS n_chars,
            CAST(len(string_split(x, chr(10))) AS INT) AS n_lines,
            ${Extract.mainContentSql("x", 8)} AS main_text
          FROM e"""
      }),

    // Charset-aware front-door decode (graft.functions.HttpBodyText —
    // the Warc.documents response path): each document becomes a
    // synthetic HTTP response whose BYTES are genuinely non-UTF-8
    // (windows-1251 / GBK via <meta charset> / ISO-8859-1 / plain
    // UTF-8, rotating by doc_id), built with CharsetEncode; the query
    // decodes them back through the header→BOM→meta→UTF-8 detection
    // chain and extracts text. The oracle rebuilds the DECODED page
    // only (DuckDB cannot decode cp1251 — it never sees the bytes), so
    // a UTF-8-hard-coded decode would hash-mismatch on every planted
    // non-ASCII character while a correct one is hash-exact.
    QueryDef("llm_extract_charset",
      (s, dir) => {
        import graft.functions.{CharsetEncode, HttpBodyText}
        val m = pmod(col("doc_id"), lit(4L))
        def page(meta: String,
                 payload: org.apache.spark.sql.Column) = concat(
          lit("<html><head>" + meta + "</head><body><p>"), payload,
          lit("</p></body></html>"))
        def hdr(ct: String) = lit(
          "HTTP/1.1 200 OK\r\nContent-Type: " + ct + "\r\n\r\n")
        val p0 = concat(lit(CsPayload1251), col("doc_id"), lit(" далее"))
        val p1 = concat(lit(CsPayloadGbk), col("doc_id"))
        val p2 = concat(lit(CsPayload8859), col("doc_id"))
        val p3 = concat(lit(CsPayloadUtf8), col("doc_id"))
        val body = when(m === 0, concat(
            CharsetEncode(hdr("text/html; charset=windows-1251"), "ISO-8859-1"),
            CharsetEncode(page("", p0), "windows-1251")))
          .when(m === 1, concat(
            CharsetEncode(hdr("text/html"), "ISO-8859-1"),
            CharsetEncode(page("<meta charset=\"gbk\">", p1), "GBK")))
          .when(m === 2, concat(
            CharsetEncode(hdr("text/html; charset=iso-8859-1"), "ISO-8859-1"),
            CharsetEncode(page("", p2), "ISO-8859-1")))
          .otherwise(concat(
            CharsetEncode(hdr("text/html"), "ISO-8859-1"),
            CharsetEncode(page("", p3), "UTF-8")))
        t(s, dir, "documents")
          .select(col("doc_id"),
            Extract.extractText(HttpBodyText(body)).as("extracted"))
      },
      Some {
        val x = Extract.extractTextSql("html")
        s"""WITH h AS (SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN '<html><head></head><body><p>' ||
                '$CsPayload1251' || doc_id || ' далее' || '</p></body></html>'
              WHEN 1 THEN '<html><head><meta charset="gbk"></head><body><p>' ||
                '$CsPayloadGbk' || doc_id || '</p></body></html>'
              WHEN 2 THEN '<html><head></head><body><p>' ||
                '$CsPayload8859' || doc_id || '</p></body></html>'
              ELSE '<html><head></head><body><p>' ||
                '$CsPayloadUtf8' || doc_id || '</p></body></html>'
            END AS html FROM documents)
          SELECT doc_id, $x AS extracted FROM h"""
      }),

    // sparse lexical retrieval (BM25-shaped, integer-exact — see
    // llm.Retrieval scaladoc): queries are the first-5-token prefixes of
    // every 20th document, scored against the full corpus through the
    // broadcast inverted-index join, ranked by TopKPerKey. idf is ppm
    // Robertson odds, tf saturation permille — the permille scale keeps
    // contrib = idf_ppm * tf_sat within int64 to N ≈ 1.3e9 documents.
    QueryDef("llm_bm25_topk",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val queries = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
          .select(col("doc_id").as("query_id"),
            array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 1, 5), " ").as("qtext"))
        Retrieval.bm25TopK(docs, queries, k = 10)
      },
      Some(s"""WITH tk AS (SELECT doc_id, ${utokSql()} AS tk FROM documents),
        post AS (SELECT doc_id, term, COUNT(*) AS tf
          FROM (SELECT doc_id, unnest(tk) AS term FROM tk) x
          WHERE term <> '' GROUP BY doc_id, term),
        q AS (SELECT DISTINCT doc_id AS query_id, term
          FROM (SELECT doc_id, unnest(tk[1:5]) AS term FROM tk WHERE doc_id % 20 = 0) y
          WHERE term <> ''),
        dfreq AS (SELECT p.term, COUNT(*) AS df FROM post p
          WHERE p.term IN (SELECT term FROM q) GROUP BY p.term),
        n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (SELECT q.query_id, p.doc_id,
            CAST(SUM((((2 * n.n - 2 * d.df + 1) * 1000000) // (2 * d.df + 1))
              * ((p.tf * 1000) // (p.tf + 2)) // 1000) AS BIGINT) AS score_ppm
          FROM q JOIN post p ON q.term = p.term
          JOIN dfreq d ON d.term = q.term CROSS JOIN n
          GROUP BY 1, 2)
        SELECT query_id, doc_id, score_ppm, rnk FROM (
          SELECT query_id, doc_id, score_ppm,
            row_number() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS rnk
          FROM scored) r WHERE rnk <= 10"""))
  )

  /** The persisted-index ANN path (build once / query many —
    * [[Similarity.ivfBuildIndex]] + [[Similarity.ivfSearchIndex]]) must
    * be row-identical to the in-memory [[Similarity.ivfKnn]] at the same
    * knobs, so it reuses llm_ann_ivf's DuckDB oracle VERBATIM: the
    * round-trip through parquet (exact-double centroids, per-cell corpus
    * slices) is pinned to produce the same answer as never persisting. */
  val defs: Seq[QueryDef] = baseDefs :+ QueryDef(
    "llm_ann_ivf_index",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-ivf-index-").toString
      val emb = t(s, dir, "embeddings")
      Similarity.ivfBuildIndex(emb, idx, nlist = 16)
      // compact inside the oracle gate: the layout rewrite must not
      // change a single row of the search answer
      Similarity.ivfIndexCompact(s, idx)
      Similarity.ivfSearchIndex(emb, idx, k = 3, nprobe = 4, excludeSelf = true)
        .withColumnRenamed("rank", "knn_rank")
    },
    baseDefs.find(_.name == "llm_ann_ivf")
      .flatMap(_.oracle)) :+ QueryDef(
    // same verbatim-oracle pin for the compressed index: the round-trip
    // through parquet codebooks + cell-sorted codes must equal the
    // in-memory ivfPqKnn answer exactly
    "llm_ann_ivfpq_index",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-index-").toString
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqBuildIndex(emb, idx, nlist = 8, m = 4, ksub = 8, iters = 2)
      Similarity.ivfPqIndexCompact(s, idx)
      Similarity.ivfPqSearchIndex(emb, idx, k = 3, nprobe = 2, excludeSelf = true)
        .withColumnRenamed("rank", "knn_rank")
    },
    baseDefs.find(_.name == "llm_ann_ivfpq")
      .flatMap(_.oracle)) :+ QueryDef(
    // the retrieval family's build-once/query-many form: the persisted
    // inverted index (Retrieval.bm25BuildIndex/bm25SearchIndex) must be
    // row-identical to the ad-hoc bm25TopK over the same corpus, so it
    // reuses llm_bm25_topk's DuckDB oracle VERBATIM — the round trip
    // through term-bucketed postings + meta doc count is pinned to
    // produce the same answer as never persisting
    "llm_bm25_index",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-bm25-index-").toString
      val docs = t(s, dir, "documents")
      // the full index lifecycle sits inside the oracle gate: build on
      // half the corpus, append the other half, compact the append
      // increment away — and the search must still be row-identical
      // to the ad-hoc bm25TopK over the whole corpus
      Retrieval.bm25BuildIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id", idx)
      Retrieval.bm25IndexAppendBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "text", "doc_id", idx, batchId = 1L)
      Retrieval.bm25IndexCompact(s, idx)
      val queries = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 1, 5), " ").as("qtext"))
      Retrieval.bm25SearchIndex(queries, idx, k = 10)
    },
    baseDefs.find(_.name == "llm_bm25_topk")
      .flatMap(_.oracle)) :+ QueryDef(
    // REAL BPE (llm.Bpe): train `BpeMerges` merge rules over the corpus
    // word histogram, encode every document with them. The oracle
    // re-derives the ENTIRE training loop in DuckDB — each merge
    // iteration unrolled as a MATERIALIZED CTE pair (pair-count argmax,
    // then the literal piece rewrite), the k-means-oracle discipline —
    // and then applies the same rank-ordered replace chain to encode.
    // Both engines use identical separator-wrapped piece strings and
    // identical (count desc, pair asc) tie-breaks, so the result is
    // hash-exact.
    "llm_bpe_encode",
    (s, dir) => Bpe.trainEncode(t(s, dir, "documents"), "doc_id", "text",
      numMerges = BpeMerges),
    Some(bpeOracleSql(BpeMerges))) :+ QueryDef(
    // the encodeFast rank-lookup kernel (the production path for
    // 32k-merge vocabularies — flat in merge-table size where the
    // replace chain is linear) must be ROW-IDENTICAL to the chain, so
    // it reuses llm_bpe_encode's DuckDB-unrolled oracle VERBATIM: the
    // same trained merges applied by the JVM kernel hash-match the
    // replace-chain rendering re-derived inside DuckDB
    "llm_bpe_encode_fast",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Bpe.encodeFast(docs, "doc_id", "text",
        Bpe.trainMerges(docs, "text", numMerges = BpeMerges))
    },
    Some(bpeOracleSql(BpeMerges))) :+ QueryDef(
    // GPT-2-STYLE PRE-TOKENIZATION ahead of the same trainer/encoder:
    // contractions split off, letter/digit/punct runs, ONE leading
    // space claimed per token and rendered as U+0120 'Ġ' — the merge
    // alphabet a real vocabulary run trains over, instead of bare
    // space-split words. The pattern is lookahead-free on purpose so
    // DuckDB's RE2 and Spark's Java regex tokenize identically
    // (leftmost-first ordered alternation in both); the oracle is the
    // same unrolled-training CTE chain with the tokenization swapped.
    "llm_bpe_encode_pre",
    (s, dir) => Bpe.trainEncodePre(t(s, dir, "documents"), "doc_id", "text",
      numMerges = BpeMerges),
    Some(bpeOracleSql(BpeMerges, PreTkSql))) :+ QueryDef(
    // UNIGRAM-LM (SentencePiece-style) tokenizer — the other trained
    // tokenizer family (Kudo 2018): seed substring vocabulary, hard-EM
    // refitting over the word histogram, Viterbi encode under the
    // final piece scores. Whole lifecycle in one query; the oracle
    // unrolls the SAME seed/EM/encode steps with the Viterbi rendered
    // as a list_reduce dp — hash-exact because every comparison is an
    // integer and the (fewest-pieces, max-score, longest-piece)
    // tie-break is shared by construction.
    "llm_unigram_encode",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Unigram.encode(docs, "doc_id", "text", Unigram.train(docs, "text"))
    },
    Some(unigramOracle)) :+ QueryDef(
    // the compiled Viterbi kernel (bulk path) must be ROW-IDENTICAL to
    // the expression rendering — it reuses the unrolled oracle
    // VERBATIM, the llm_bpe_encode_fast discipline.
    "llm_unigram_encode_fast",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Unigram.encodeFast(docs, "doc_id", "text", Unigram.train(docs, "text"))
    },
    Some(unigramOracle)) :+ QueryDef(
    // the hot-term df/N cap (Retrieval.bm25SearchIndex maxDfFrac): terms
    // present in more than 78.5% of the corpus are skipped FROM THE
    // STATS SLICE ALONE — their postings never open — and the capped
    // ranking must equal scoring with those terms deleted from the
    // queries. The oracle re-derives exactly that: full-corpus df per
    // term, query terms filtered by df <= 0.785*n, then the verbatim
    // integer-exact scoring pipeline. 0.785*n never lands on an integer
    // df (n = 500 -> 392.5), so the threshold is boundary-safe in both
    // engines' double arithmetic.
    "llm_bm25_capped",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-bm25-capped-").toString
      val docs = t(s, dir, "documents")
      Retrieval.bm25BuildIndex(docs, "text", "doc_id", idx)
      val queries = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 1, 5), " ").as("qtext"))
      Retrieval.bm25SearchIndex(queries, idx, k = 10, maxDfFrac = 0.785)
    },
    Some(s"""WITH tk AS (SELECT doc_id, ${utokSql()} AS tk FROM documents),
      post AS (SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(tk) AS term FROM tk) x
        WHERE term <> '' GROUP BY doc_id, term),
      q0 AS (SELECT DISTINCT doc_id AS query_id, term
        FROM (SELECT doc_id, unnest(tk[1:5]) AS term FROM tk WHERE doc_id % 20 = 0) y
        WHERE term <> ''),
      n AS (SELECT COUNT(*) AS n FROM documents),
      dfall AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
      q AS (SELECT q0.query_id, q0.term FROM q0 JOIN dfall d ON d.term = q0.term
        CROSS JOIN n WHERE d.df <= 0.785 * n.n),
      dfreq AS (SELECT p.term, COUNT(*) AS df FROM post p
        WHERE p.term IN (SELECT term FROM q) GROUP BY p.term),
      scored AS (SELECT q.query_id, p.doc_id,
          CAST(SUM((((2 * n.n - 2 * d.df + 1) * 1000000) // (2 * d.df + 1))
            * ((p.tf * 1000) // (p.tf + 2)) // 1000) AS BIGINT) AS score_ppm
        FROM q JOIN post p ON q.term = p.term
        JOIN dfreq d ON d.term = q.term CROSS JOIN n
        GROUP BY 1, 2)
      SELECT query_id, doc_id, score_ppm, rnk FROM (
        SELECT query_id, doc_id, score_ppm,
          row_number() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, doc_id) AS rnk
        FROM scored) r WHERE rnk <= 10""")) :+ QueryDef(
    // positional EXACT-PHRASE search (Retrieval.phraseTopK): a phrase
    // occurs at document position a iff every phrase offset i matches a
    // posting at a+i, so anchors = pos - off grouped per (query, doc,
    // anchor) counting DISTINCT offsets — one broadcast semi-join + one
    // anchor shuffle, never all positions of all documents. Queries =
    // tokens 2..4 of every 50th document (guaranteed self-match at
    // anchor 1). The oracle re-derives the identical anchor pipeline
    // over DuckDB's lockstep unnest positions.
    "llm_phrase_topk",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 2, 3), " ").as("qtext"))
      Retrieval.phraseTopK(docs, queries, k = 10)
    },
    Some(phraseOracleSql)) :+ QueryDef(
    // LOSSLESS max-score two-phase search: unlike the df/N cap (which
    // deletes hot terms), this is row-identical to the uncapped exact
    // search — rare terms score exactly, hot terms are admitted only
    // for candidates the stats-derived upper bound cannot exclude, and
    // queries where the bound can't close fall back to full scoring.
    // Pinned by reusing llm_bm25_topk's oracle VERBATIM: exactness is
    // the whole point. documents' terms sit at df 0.75-0.8, so at
    // hotDfFrac = 0.5 most query terms are hot and both the pruned and
    // fallback legs execute.
    "llm_bm25_maxscore",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-bm25-ms-").toString
      val docs = t(s, dir, "documents")
      Retrieval.bm25BuildIndex(docs, "text", "doc_id", idx)
      val queries = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 1, 5), " ").as("qtext"))
      Retrieval.bm25SearchIndexMaxScore(queries, idx, k = 10, hotDfFrac = 0.5)
    },
    baseDefs.find(_.name == "llm_bm25_topk")
      .flatMap(_.oracle)) :+ QueryDef(
    // the persisted positional index's WHOLE lifecycle — build half the
    // corpus, append the other half, compact through the crash-safe
    // swap, completeness-check, search — must be row-identical to the
    // ad-hoc phrase search over the same corpus: oracle reused
    // verbatim (the bm25/ivf index-pinning discipline)
    "llm_phrase_index",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-phrase-index-").toString
      val docs = t(s, dir, "documents")
      Retrieval.phraseBuildIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "text", "doc_id", idx)
      Retrieval.phraseIndexAppendBatch(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "text", "doc_id", idx, batchId = 1L)
      Retrieval.phraseIndexCompact(s, idx)
      require(Retrieval.phraseIndexRecover(s, idx), "complete positions index expected")
      val queries = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 2, 3), " ").as("qtext"))
      Retrieval.phraseSearchIndex(queries, idx, k = 10)
    },
    Some(phraseOracleSql)) :+ QueryDef(
    // rarest-term candidate pruning (phraseSearchIndexSelective): the
    // anchor shuffle carries only candidate-doc positions — EXACT by
    // the containment argument (every occurrence holds the rarest
    // term), so the oracle is the unchanged ad-hoc phrase twin
    "llm_phrase_selective",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-phrase-sel-").toString
      val docs = t(s, dir, "documents")
      Retrieval.phraseBuildIndex(docs, "text", "doc_id", idx)
      val queries = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 2, 3), " ").as("qtext"))
      Retrieval.phraseSearchIndexSelective(queries, idx, k = 10)
    },
    Some(phraseOracleSql)) :+ QueryDef(
    // CCNet-style n-gram LM quality scoring (Lm.lmScoreK at k = 2):
    // bigram + unigram counts with stupid backoff, every step integer
    // fixed-point (ppm with floor division) so the score is hash-exact
    // across engines. Train split = even doc ids, score = the whole
    // corpus — odd documents exercise the unseen-context backoff and
    // unseen-token zero paths. The oracle re-derives counts and the
    // three-branch contribution CASE verbatim over DuckDB's lockstep
    // unnest positions.
    "llm_lm_score",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Lm.lmScoreK(docs.filter(pmod(col("doc_id"), lit(2)) === 0), docs,
        "text", "doc_id", k = 2)
    },
    Some(lmOracleSql)) :+ QueryDef(
    // the persisted LM lifecycle: build on one train half, append the
    // other (its increment folds on read), compact into the next GenDir
    // generation, completeness-check, score against the folded model — must
    // be row-identical to the ad-hoc path over the same training
    // corpus (%4 in {0,2} == %2 == 0), so the oracle is reused
    // VERBATIM (the bm25/ivf index-pinning discipline)
    "llm_lm_index",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-lm-index-").toString
      val docs = t(s, dir, "documents")
      Lm.lmBuildIndexK(docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        "text", "doc_id", idx, k = 2)
      Lm.lmIndexAppendBatchK(docs.filter(pmod(col("doc_id"), lit(4)) === 2),
        "text", "doc_id", idx, batchId = 1L)
      Lm.lmIndexCompactK(s, idx)
      require(Lm.lmIndexRecoverK(s, idx), "complete LM index expected")
      Lm.lmScoreIndexK(docs, "text", "doc_id", idx)
    },
    Some(lmOracleSql)) :+ QueryDef(
    // trigram order (two-level stupid backoff: tri -> 0.4 bi -> 0.16
    // uni) — the next rung toward CCNet's 5-gram; the oracle re-derives
    // all three count orders and the five-branch contribution CASE
    "llm_lm3_score",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Lm.lmScoreK(docs.filter(pmod(col("doc_id"), lit(2)) === 0), docs,
        "text", "doc_id", k = 3)
    },
    Some(lm3OracleSql)) :+ QueryDef(
    // the order-3 persisted lifecycle (build %4==0 / append %4==2 /
    // compact / recover / score) against the SAME trigram oracle —
    // order rides meta, appends keep the trigram slice in step
    // the Bloom-prefiltered contamination sweep must be ROW-IDENTICAL
    // to the plain broadcast sweep (no false negatives + exact verify),
    // so llm_decontaminate's oracle is reused VERBATIM; the 1M-bit
    // filter is deliberately modest so some false positives flow into
    // the verify join and get discarded there
    "llm_decontaminate_bloom",
    (s, dir) => Dedup.contaminationBloomSweep(t(s, dir, "documents"),
      "doc_id", "text", "source", "src0", n = 8, minShared = 20L,
      estimatedEvalItems = 100000L, numBits = 1024L * 1024),
    baseDefs.find(_.name == "llm_decontaminate")
      .flatMap(_.oracle)) :+ QueryDef(
    "llm_lm3_index",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-lm3-index-").toString
      val docs = t(s, dir, "documents")
      Lm.lmBuildIndexK(docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        "text", "doc_id", idx, k = 3)
      Lm.lmIndexAppendBatchK(docs.filter(pmod(col("doc_id"), lit(4)) === 2),
        "text", "doc_id", idx, batchId = 1L)
      Lm.lmIndexCompactK(s, idx)
      require(Lm.lmIndexRecoverK(s, idx), "complete order-3 LM index expected")
      Lm.lmScoreIndexK(docs, "text", "doc_id", idx)
    },
    Some(lm3OracleSql)) :+ QueryDef(
    // CCNet's production order: 5-gram with four-level stupid backoff
    // (0.4^j down the orders), through the same order-k scorer as
    // llm_lm_score/llm_lm3_score. The oracle re-derives all five count
    // orders and the fifteen-branch contribution CASE over lockstep
    // unnest positions, floor division everywhere.
    "llm_lm5_score",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Lm.lmScoreK(docs.filter(pmod(col("doc_id"), lit(2)) === 0), docs,
        "text", "doc_id", k = 5)
    },
    Some(lm5OracleSql)) :+ QueryDef(
    // the order-5 persisted lifecycle (build %4==0 / append %4==2 /
    // compact / recover / score) against the SAME 5-gram oracle —
    // order rides meta, every order stays in step
    "llm_lm5_index",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-lm5-index-").toString
      val docs = t(s, dir, "documents")
      Lm.lmBuildIndexK(docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        "text", "doc_id", idx, k = 5)
      Lm.lmIndexAppendBatchK(docs.filter(pmod(col("doc_id"), lit(4)) === 2),
        "text", "doc_id", idx, batchId = 1L)
      Lm.lmIndexCompactK(s, idx)
      require(Lm.lmIndexRecoverK(s, idx), "complete order-5 LM index expected")
      Lm.lmScoreIndexK(docs, "text", "doc_id", idx)
    },
    Some(lm5OracleSql)) :+ QueryDef(
    // EXACTLY-ONCE batch ingest (the IncLog protocol): the %4==0 half
    // bootstraps as stream batch 0 (marker-before-meta), the %4==2
    // half lands as batch 1's committed increment, then BOTH batches
    // are REDELIVERED (foreachBatch's at-least-once replay) and must
    // be skipped, a compaction folds the increments, and a THIRD
    // redelivery of the now-folded batch is skipped via the summary
    // watermark. Counts double at any missed skip — so the unchanged
    // train-on-%2==0 oracle IS the exactly-once proof.
    "llm_lm_index_xo",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-lm-xo-").toString
      val docs = t(s, dir, "documents")
      val b0 = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      val b1 = docs.filter(pmod(col("doc_id"), lit(4)) === 2)
      Lm.lmBuildIndexBatchK(b0, "text", "doc_id", idx, k = 2, batchId = 0L)
      require(Lm.lmIndexAppendBatchK(b1, "text", "doc_id", idx, batchId = 1L),
        "first delivery must apply")
      require(!Lm.lmIndexAppendBatchK(b0, "text", "doc_id", idx, batchId = 0L)
        && !Lm.lmIndexAppendBatchK(b1, "text", "doc_id", idx, batchId = 1L),
        "redelivered batches must be skipped")
      Lm.lmIndexCompactK(s, idx)
      require(!Lm.lmIndexAppendBatchK(b1, "text", "doc_id", idx, batchId = 1L),
        "a folded batch must be skipped via the summary watermark")
      require(Lm.lmIndexRecoverK(s, idx), "complete LM index expected")
      Lm.lmScoreIndexK(docs, "text", "doc_id", idx)
    },
    Some(lmOracleSql)) :+ QueryDef(
    // CCNet's head/middle/tail split (Wenzek et al. §4.3): rank by LM
    // quality, cut into equal parts. Cutoff tuples come from one
    // NARROW global sort (or a sample at production scale); assignment
    // is a map-side when() chain over broadcast constants — and with
    // full-frame cutoffs it is provably ntile(3) (doc_id uniqueness
    // makes rank and tuple comparison agree), which the oracle pins
    // with DuckDB's own ntile over the identical (score DESC, ntok,
    // doc_id) ordering.
    "llm_lm_buckets",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = Lm.lmScoreK(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs, "text", "doc_id", k = 2)
      Lm.lmQualityBuckets(scored, nBuckets = 3)
        .withColumn("tier", element_at(
          array(lit("head"), lit("middle"), lit("tail")), col("bucket")))
    },
    Some(s"""SELECT doc_id, ntok, lm_score_ppm,
      ntile(3) OVER w AS bucket,
      CASE ntile(3) OVER w WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        ELSE 'tail' END AS tier
      FROM ($lmOracleSql) scored
      WINDOW w AS (ORDER BY lm_score_ppm DESC, ntok, doc_id)""")) :+ QueryDef(
    // PER-LANGUAGE LM scoring + tiers (CCNet's actual configuration,
    // Wenzek et al. §4.3: each language scores against ITS OWN model).
    // Planted bilingual corpus: the documents table as lang 'orig'
    // plus a disjoint-vocabulary minority copy ('zq'-prefixed tokens,
    // every 10th doc, shifted ids); train = even ids of the union.
    // Counts, totals and all scoring joins carry the language key;
    // tiers are ntile(3) within language on the canonical unique
    // ordering. The oracle is the lang-keyed twin of lmOracleSql over
    // the identically-planted corpus. PerLangLmSpec pins WHY: the
    // global model provably drags the minority language into the tail.
    "llm_lm_per_lang",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val zq = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          lit("zq").as("lang"),
          array_join(transform(split(col("text"), " "),
            tk => concat(lit("zq"), tk)), " ").as("text"))
      val base = docs.select(col("doc_id"), lit("orig").as("lang"),
        col("text")).unionByName(zq)
      val scored = Lm.lmScorePerLang(
        base.filter(pmod(col("doc_id"), lit(2)) === 0), base,
        "text", "doc_id", "lang")
      Lm.lmTiersPerLang(scored, 3).withColumn("tier", col("tier").cast("int"))
    },
    Some(s"""WITH base AS (
        SELECT doc_id, 'orig' AS lang, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, 'zq',
          array_to_string(list_transform(string_split(text, ' '),
            t -> 'zq' || t), ' ')
        FROM documents WHERE doc_id % 10 = 0),
      tk AS (SELECT doc_id, lang,
        ${utokSql()} AS tk FROM base),
      rs AS (SELECT doc_id, lang, term, pos FROM (
          SELECT doc_id, lang, unnest(tk) AS term,
            unnest(range(len(tk))) AS pos FROM tk) x),
      tr AS (SELECT * FROM rs WHERE doc_id % 2 = 0),
      uni AS (SELECT lang, term, COUNT(*) AS c1 FROM tr GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(SUM(c1) AS BIGINT) AS t FROM uni GROUP BY 1),
      bi AS (SELECT a.lang, a.term AS prev, b.term AS term, COUNT(*) AS c2
        FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2, 3),
      sc AS (SELECT r.doc_id, r.lang, r.pos, p.term AS prev, r.term
        FROM rs r LEFT JOIN rs p ON p.doc_id = r.doc_id AND p.pos = r.pos - 1),
      contrib AS (SELECT s.doc_id, s.lang,
          CASE WHEN s.pos = 0 THEN COALESCE((u2.c1 * 1000000) // t.t, 0)
               WHEN bi.c2 IS NOT NULL THEN (bi.c2 * 1000000) // u1.c1
               ELSE COALESCE((u2.c1 * 400000) // t.t, 0) END AS c
        FROM sc s
        LEFT JOIN bi ON bi.lang = s.lang AND bi.prev = s.prev AND bi.term = s.term
        LEFT JOIN uni u1 ON u1.lang = s.lang AND u1.term = s.prev
        LEFT JOIN uni u2 ON u2.lang = s.lang AND u2.term = s.term
        LEFT JOIN tot t ON t.lang = s.lang),
      scored AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS ntok,
          CAST(SUM(c) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS lm_score_ppm
        FROM contrib GROUP BY 1, 2)
      SELECT doc_id, lang, ntok, lm_score_ppm,
        CAST(ntile(3) OVER (PARTITION BY lang
          ORDER BY lm_score_ppm DESC, ntok, doc_id) AS INT) AS tier
      FROM scored""")) :+ QueryDef(
    // EXACTLY-ONCE BM25 batch ingest (IncLog on the Retrieval family —
    // the LM xo query's retrieval twin): build as stream batch 0,
    // append batch 1 as a committed increment, REDELIVER both (must
    // skip — tf/df double at any missed skip), compact (folds the
    // increment; a third redelivery is skipped via the summary
    // watermark), then search. Row-identical to ad-hoc bm25TopK over
    // the union, so llm_bm25_topk's oracle is reused VERBATIM.
    "llm_bm25_index_xo",
    (s, dir) => {
      val idx = java.nio.file.Files.createTempDirectory("graft-bm25-xo-").toString
      val docs = t(s, dir, "documents")
      val b0 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val b1 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      Retrieval.bm25BuildIndexBatch(b0, "text", "doc_id", idx, batchId = 0L)
      require(Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", idx, 1L),
        "first delivery must apply")
      require(!Retrieval.bm25IndexAppendBatch(b0, "text", "doc_id", idx, 0L)
        && !Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", idx, 1L),
        "redelivered batches must be skipped")
      Retrieval.bm25IndexCompact(s, idx)
      require(!Retrieval.bm25IndexAppendBatch(b1, "text", "doc_id", idx, 1L),
        "a folded batch must be skipped via the summary watermark")
      val queries = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 1, 5), " ").as("qtext"))
      Retrieval.bm25SearchIndex(queries, idx, k = 10)
    },
    baseDefs.find(_.name == "llm_bm25_topk")
      .flatMap(_.oracle))

  /** DuckDB twin of Lm.lmScoreK at k = 5 (same split): counts for all
    * five orders via pos self-joins, prev1..prev4 context via four
    * left self-joins, the fifteen-branch four-level backoff CASE
    * (factor 0.4^j in ppm per level skipped), floor division
    * everywhere. */
  private def lm5OracleSql: String =
    s"""WITH tk AS (SELECT doc_id, ${utokSql()} AS tk FROM documents),
      rs AS (SELECT doc_id, term, pos FROM (
          SELECT doc_id, unnest(tk) AS term, unnest(range(len(tk))) AS pos FROM tk) x),
      tr AS (SELECT * FROM rs WHERE doc_id % 2 = 0),
      uni AS (SELECT term, COUNT(*) AS c1 FROM tr GROUP BY 1),
      tot AS (SELECT CAST(COALESCE(SUM(c1), 0) AS BIGINT) AS t FROM uni),
      bi AS (SELECT a.term AS prev, b.term AS term, COUNT(*) AS c2
        FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2),
      tri AS (SELECT a.term AS prev2, b.term AS prev, c.term AS term, COUNT(*) AS c3
        FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                  JOIN tr c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        GROUP BY 1, 2, 3),
      qd AS (SELECT a.term AS p3, b.term AS p2, c.term AS p1, d.term AS term, COUNT(*) AS c4
        FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                  JOIN tr c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
                  JOIN tr d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3
        GROUP BY 1, 2, 3, 4),
      qn AS (SELECT a.term AS p4, b.term AS p3, c.term AS p2, d.term AS p1, e.term AS term, COUNT(*) AS c5
        FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                  JOIN tr c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
                  JOIN tr d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3
                  JOIN tr e ON a.doc_id = e.doc_id AND e.pos = a.pos + 4
        GROUP BY 1, 2, 3, 4, 5),
      sc AS (SELECT r.doc_id, r.pos, p4.term AS prev4, p3.term AS prev3,
          p2.term AS prev2, p1.term AS prev, r.term
        FROM rs r LEFT JOIN rs p1 ON p1.doc_id = r.doc_id AND p1.pos = r.pos - 1
                  LEFT JOIN rs p2 ON p2.doc_id = r.doc_id AND p2.pos = r.pos - 2
                  LEFT JOIN rs p3 ON p3.doc_id = r.doc_id AND p3.pos = r.pos - 3
                  LEFT JOIN rs p4 ON p4.doc_id = r.doc_id AND p4.pos = r.pos - 4),
      contrib AS (SELECT s.doc_id,
          CASE WHEN s.pos = 0 THEN COALESCE((u2.c1 * 1000000) // t.t, 0)
               WHEN s.pos = 1 THEN
                 CASE WHEN bi.c2 IS NOT NULL THEN (bi.c2 * 1000000) // u1.c1
                      ELSE COALESCE((u2.c1 * 400000) // t.t, 0) END
               WHEN s.pos = 2 THEN
                 CASE WHEN tri.c3 IS NOT NULL THEN (tri.c3 * 1000000) // bc.c2
                      WHEN bi.c2 IS NOT NULL THEN (bi.c2 * 400000) // u1.c1
                      ELSE COALESCE((u2.c1 * 160000) // t.t, 0) END
               WHEN s.pos = 3 THEN
                 CASE WHEN qd.c4 IS NOT NULL THEN (qd.c4 * 1000000) // tc.c3
                      WHEN tri.c3 IS NOT NULL THEN (tri.c3 * 400000) // bc.c2
                      WHEN bi.c2 IS NOT NULL THEN (bi.c2 * 160000) // u1.c1
                      ELSE COALESCE((u2.c1 * 64000) // t.t, 0) END
               ELSE
                 CASE WHEN qn.c5 IS NOT NULL THEN (qn.c5 * 1000000) // qc.c4
                      WHEN qd.c4 IS NOT NULL THEN (qd.c4 * 400000) // tc.c3
                      WHEN tri.c3 IS NOT NULL THEN (tri.c3 * 160000) // bc.c2
                      WHEN bi.c2 IS NOT NULL THEN (bi.c2 * 64000) // u1.c1
                      ELSE COALESCE((u2.c1 * 25600) // t.t, 0) END
          END AS c
        FROM sc s
        LEFT JOIN qn ON qn.p4 = s.prev4 AND qn.p3 = s.prev3 AND qn.p2 = s.prev2
          AND qn.p1 = s.prev AND qn.term = s.term
        LEFT JOIN qd qc ON qc.p3 = s.prev4 AND qc.p2 = s.prev3
          AND qc.p1 = s.prev2 AND qc.term = s.prev
        LEFT JOIN qd ON qd.p3 = s.prev3 AND qd.p2 = s.prev2
          AND qd.p1 = s.prev AND qd.term = s.term
        LEFT JOIN tri tc ON tc.prev2 = s.prev3 AND tc.prev = s.prev2 AND tc.term = s.prev
        LEFT JOIN tri ON tri.prev2 = s.prev2 AND tri.prev = s.prev AND tri.term = s.term
        LEFT JOIN bi bc ON bc.prev = s.prev2 AND bc.term = s.prev
        LEFT JOIN bi ON bi.prev = s.prev AND bi.term = s.term
        LEFT JOIN uni u1 ON u1.term = s.prev
        LEFT JOIN uni u2 ON u2.term = s.term
        CROSS JOIN tot t)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok,
        CAST(SUM(c) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS lm_score_ppm
      FROM contrib GROUP BY doc_id"""

  /** DuckDB twin of Lm.lmScoreK at k = 3 (same split): trigram counts via two
    * pos self-joins, the five-branch two-level backoff CASE, floor
    * division everywhere. */
  private def lm3OracleSql: String =
    s"""WITH tk AS (SELECT doc_id, ${utokSql()} AS tk FROM documents),
      rs AS (SELECT doc_id, term, pos FROM (
          SELECT doc_id, unnest(tk) AS term, unnest(range(len(tk))) AS pos FROM tk) x),
      tr AS (SELECT * FROM rs WHERE doc_id % 2 = 0),
      uni AS (SELECT term, COUNT(*) AS c1 FROM tr GROUP BY 1),
      tot AS (SELECT CAST(COALESCE(SUM(c1), 0) AS BIGINT) AS t FROM uni),
      bi AS (SELECT a.term AS prev, b.term AS term, COUNT(*) AS c2
        FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2),
      tri AS (SELECT a.term AS prev2, b.term AS prev, c.term AS term, COUNT(*) AS c3
        FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                  JOIN tr c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        GROUP BY 1, 2, 3),
      sc AS (SELECT r.doc_id, r.pos, p2.term AS prev2, p1.term AS prev, r.term
        FROM rs r LEFT JOIN rs p1 ON p1.doc_id = r.doc_id AND p1.pos = r.pos - 1
                  LEFT JOIN rs p2 ON p2.doc_id = r.doc_id AND p2.pos = r.pos - 2),
      contrib AS (SELECT s.doc_id,
          CASE WHEN s.pos = 0 THEN COALESCE((u2.c1 * 1000000) // t.t, 0)
               WHEN s.pos = 1 THEN
                 CASE WHEN bi.c2 IS NOT NULL THEN (bi.c2 * 1000000) // u1.c1
                      ELSE COALESCE((u2.c1 * 400000) // t.t, 0) END
               ELSE
                 CASE WHEN tri.c3 IS NOT NULL THEN (tri.c3 * 1000000) // bc.c2
                      WHEN bi.c2 IS NOT NULL THEN (bi.c2 * 400000) // u1.c1
                      ELSE COALESCE((u2.c1 * 160000) // t.t, 0) END
          END AS c
        FROM sc s
        LEFT JOIN tri ON tri.prev2 = s.prev2 AND tri.prev = s.prev AND tri.term = s.term
        LEFT JOIN bi bc ON bc.prev = s.prev2 AND bc.term = s.prev
        LEFT JOIN bi ON bi.prev = s.prev AND bi.term = s.term
        LEFT JOIN uni u1 ON u1.term = s.prev
        LEFT JOIN uni u2 ON u2.term = s.term
        CROSS JOIN tot t)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok,
        CAST(SUM(c) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS lm_score_ppm
      FROM contrib GROUP BY doc_id"""

  /** DuckDB twin of Lm.lmScoreK at k = 2 with train = doc_id % 2 = 0: counts over
    * lockstep-unnest token positions, prev via a pos-1 self-join, the
    * same three-branch fixed-point contribution, floor division
    * everywhere (`//` == Spark `div` on nonnegative operands). */
  private def lmOracleSql: String = lmOracleSqlOver("doc_id % 2 = 0")

  /** [[lmOracleSql]] with a configurable training-set predicate and
    * source relation — ("TRUE", fixture) is the self-scoring form
    * (train = score = the whole corpus) the curation scorecard's LM
    * stage uses. */
  private def lmOracleSqlOver(trainFilter: String,
                              src: String = "documents"): String =
    s"""WITH tk AS (SELECT doc_id, ${utokSql()} AS tk FROM $src),
      rs AS (SELECT doc_id, term, pos FROM (
          SELECT doc_id, unnest(tk) AS term, unnest(range(len(tk))) AS pos FROM tk) x),
      tr AS (SELECT * FROM rs WHERE $trainFilter),
      uni AS (SELECT term, COUNT(*) AS c1 FROM tr GROUP BY 1),
      tot AS (SELECT CAST(COALESCE(SUM(c1), 0) AS BIGINT) AS t FROM uni),
      bi AS (SELECT a.term AS prev, b.term AS term, COUNT(*) AS c2
        FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2),
      sc AS (SELECT r.doc_id, r.pos, p.term AS prev, r.term
        FROM rs r LEFT JOIN rs p ON p.doc_id = r.doc_id AND p.pos = r.pos - 1),
      contrib AS (SELECT s.doc_id,
          CASE WHEN s.pos = 0 THEN COALESCE((u2.c1 * 1000000) // t.t, 0)
               WHEN bi.c2 IS NOT NULL THEN (bi.c2 * 1000000) // u1.c1
               ELSE COALESCE((u2.c1 * 400000) // t.t, 0) END AS c
        FROM sc s
        LEFT JOIN bi ON bi.prev = s.prev AND bi.term = s.term
        LEFT JOIN uni u1 ON u1.term = s.prev
        LEFT JOIN uni u2 ON u2.term = s.term
        CROSS JOIN tot t)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok,
        CAST(SUM(c) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS lm_score_ppm
      FROM contrib GROUP BY doc_id"""

  /** def, not val: referenced from the `defs` initializer above — a val
    * declared below it would still be null at that point. */
  private def phraseOracleSql: String =
    s"""WITH tk AS (SELECT doc_id, ${utokSql()} AS tk FROM documents),
      posts AS (SELECT * FROM (
          SELECT doc_id, unnest(tk) AS term, unnest(range(len(tk))) AS pos FROM tk) x
        WHERE term <> ''),
      q AS (SELECT * FROM (
          SELECT query_id, unnest(qk) AS term, unnest(range(len(qk))) AS off
          FROM (SELECT doc_id AS query_id, tk[2:4] AS qk FROM tk
                WHERE doc_id % 50 = 0) y) z
        WHERE term <> ''),
      qlen AS (SELECT query_id, COUNT(DISTINCT off) AS m FROM q GROUP BY 1),
      anchors AS (SELECT q.query_id, p.doc_id, p.pos - q.off AS anchor,
          COUNT(DISTINCT q.off) AS hits
        FROM q JOIN posts p ON q.term = p.term GROUP BY 1, 2, 3),
      occ AS (SELECT a.query_id, a.doc_id, CAST(COUNT(*) AS BIGINT) AS phrase_tf
        FROM anchors a JOIN qlen l ON a.query_id = l.query_id
        WHERE a.hits = l.m GROUP BY 1, 2)
      SELECT query_id, doc_id, phrase_tf, rnk FROM (
        SELECT query_id, doc_id, phrase_tf,
          row_number() OVER (PARTITION BY query_id ORDER BY phrase_tf DESC, doc_id) AS rnk
        FROM occ) r WHERE rnk <= 10"""
}
