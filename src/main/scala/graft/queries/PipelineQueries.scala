package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Training-data-pipeline operators (dedup, text analysis, similarity
  * search) over `documents` / `embeddings` — the north-star extensions
  * beyond the reference's own inventory (SURVEY.md §4.2 item 6).
  *
  * Everything is pure `org.apache.spark.sql.functions` (codegen'd,
  * whole-stage friendly): occurrence counting via length/replace, vector
  * math via zip_with/aggregate higher-order functions. Float-sensitive
  * results are computed as LEFT-TO-RIGHT double folds so the DuckDB
  * oracle (same fold order) is bit-identical.
  */
object PipelineQueries {

  /** DuckDB spelling of TextOps.occurrences (oracle fragments). */
  private def occSql(c: String, w: String): String =
    s"(length($c) - length(replace($c, '$w', ''))) // ${w.length}"

  /** q156's boustrophedon shard-assignment SQL over any (doc_id,
    * text) relation — ONE generator behind the assignment query
    * (q156, over `documents`), the published release's manifest (q173
    * aggregates it per shard) and the curated-release composition
    * (q174, over the temperature-resampled keep set), so the export
    * surface cannot drift from the assignment it publishes.
    */
  private def shardByTokensOracleSqlFrom(fromSql: String): String = s"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
         ${graft.functions.TextHashing.hash60Sql("'shard1:' || doc_id")} AS hh
  FROM $fromSql),
p AS (SELECT doc_id, n_tok,
             (row_number() OVER (ORDER BY -n_tok, hh % 32, hh, doc_id)
               - 1)::BIGINT AS pos
      FROM t)
SELECT doc_id, n_tok, pos,
       (CASE WHEN (pos // 8) % 2 = 0 THEN pos % 8
             ELSE 7 - (pos % 8) END)::BIGINT AS shard
FROM p"""

  private def shardByTokensOracleSql: String =
    shardByTokensOracleSqlFrom("documents")

  /** q157's temperature-resample SQL — the q156-generator discipline:
    * ONE text behind the mixture query (q157) and the curated-release
    * composition (q174 publishes exactly this keep set).
    */
  private def temperatureResampleOracleSql: String = s"""
WITH t AS (SELECT doc_id, source,
                  len(string_split(text, ' '))::BIGINT AS n_tok,
                  ${graft.functions.TextHashing.hash60Sql("doc_id::VARCHAR")} AS h
           FROM documents),
m AS (SELECT source, sum(n_tok)::BIGINT AS mt FROM t GROUP BY 1),
w AS (SELECT source, mt, ${graft.api.SampleOps.isqrtSql("mt")} AS wt
      FROM m WHERE mt > 0),
k AS (SELECT min((mt::HUGEINT * 1000) // wt) AS k1000 FROM w),
b AS (SELECT source, (k1000::HUGEINT * wt) // 1000 AS budget FROM w, k),
o AS (SELECT doc_id, source, n_tok,
             COALESCE(sum(n_tok) OVER (PARTITION BY source
               ORDER BY h % 32, h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS tok_before
      FROM t)
SELECT o.doc_id, o.source, o.n_tok, o.tok_before
FROM o JOIN b USING (source)
WHERE o.tok_before < b.budget"""

  /** The q158 dataset-card SQL, parameterized by a corpus predicate —
    * ONE generator behind the batch card (q158, empty predicate), the
    * maintained card index's fold parity (q171 — the index over
    * corpus + folded delta must equal the card over their union) and
    * the takedown twin (q172 — the removed source's docs excluded),
    * so the three queries and the two engines cannot drift by edit.
    */
  private def datasetCardOracleSql(where: String = ""): String = s"""
WITH t AS (
  SELECT source, lang, length(text) AS n_char,
         len(string_split(text, ' '))::BIGINT AS n_tok,
         ${occSql("text", " the ")} AS n_stop
  FROM documents $where),
q AS (SELECT source, lang, n_tok,
             CASE WHEN n_tok >= 40 AND (n_stop * 1000) // n_tok >= 20
                    THEN 'high'
                  WHEN n_tok >= 15 THEN 'medium' ELSE 'low' END AS quality
      FROM t),
g AS (SELECT sum(n_tok)::HUGEINT AS tot FROM q)
SELECT CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE source END AS source,
       CASE WHEN GROUPING(lang) = 1 THEN '(all)' ELSE lang END AS lang,
       CASE WHEN GROUPING(quality) = 1 THEN '(all)' ELSE quality END
         AS quality,
       count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       ((sum(n_tok)::HUGEINT * 1000000) // (SELECT tot FROM g))::BIGINT
         AS tok_ppm
FROM q GROUP BY ROLLUP (source, lang, quality)"""

  /** Escapes a regex for embedding in a single-quoted DuckDB string
    * literal (HrefPattern and its unquote twin carry single quotes). */
  private def sqlQuoted(pat: String): String = pat.replace("'", "''")

  /** The q145/q146 anchor fixture — the documents table carries no
    * real markup, so ONE generator grafts five deterministic anchors
    * per doc across all three HTML quoting styles (double-quoted
    * absolute, single-quoted relative, double-quoted absolute on a
    * second host, bare relative, single-quoted absolute on a third
    * host), with [[linkFixtureSqlExpr]] the character-identical DuckDB
    * spelling — the q89/q92 shared-fragment discipline so the two
    * engines' fixtures cannot drift by edit. `withHub = true` (q146)
    * appends a SHARED hub anchor (doc_id mod 5 per host) so in-link
    * counts exceed 1 and the frontier's priority order is exercised.
    */
  private[graft] def linkFixture(docs: org.apache.spark.sql.DataFrame,
      withHub: Boolean = false): org.apache.spark.sql.DataFrame = {
    val base = concat(
      lit("<a href=\"https://ex"), (col("doc_id") % 9).cast("string"),
      lit(".org/p/"), col("doc_id").cast("string"),
      lit("\">x</a> "), col("text"),
      lit(" <a href='/rel/"), (col("doc_id") % 4).cast("string"),
      lit("'>y</a><a href=\"http://m"), (col("doc_id") % 3).cast("string"),
      lit(".net/q?id="), col("doc_id").cast("string"),
      lit("\">z</a><a href=bare"), (col("doc_id") % 6).cast("string"),
      lit(".html>b</a><a href='https://sq"),
      (col("doc_id") % 5).cast("string"),
      lit(".io/s/"), col("doc_id").cast("string"), lit("'>s</a>"))
    val t0 = if (withHub) concat(base,
      lit("<a href=\"https://ex"), (col("doc_id") % 9).cast("string"),
      lit(".org/hub/"), (col("doc_id") % 5).cast("string"), lit("\">h</a>"))
    else base
    docs.select(col("doc_id"), t0.as("text"))
  }

  /** q147's anchor fixture: every doc grafts a DIRTY shared hub
    * anchor (uppercase scheme+host, per-doc utm param, fragment —
    * canonicalizes to one of 45 clean hub URLs; the hub index is
    * doc_id div 5 mod 5, DECOUPLED from the corpus/delta doc_id mod 5
    * split so both sides cover all hub forms) plus a clean unique
    * per-doc page anchor and a relative link. The point: delta hub
    * links are suppressed by the visited set ONLY through canonical
    * equivalence — every raw hub string differs (utm varies per doc),
    * so a drifted canonicalizer floods the frontier with re-crawls.
    */
  private def discoveryFixture(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<a href=\"HTTPS://EX"), (col("doc_id") % 9).cast("string"),
      lit(".ORG/hub/"), expr("(doc_id div 5) % 5").cast("string"),
      lit("?utm_src=a"), (col("doc_id") % 7).cast("string"),
      lit("#f"), (col("doc_id") % 3).cast("string"),
      lit("\">h</a><a href=\"https://ex"), (col("doc_id") % 9).cast("string"),
      lit(".org/p/"), col("doc_id").cast("string"),
      lit("\">x</a> "), col("text"),
      lit(" <a href='/rel/"), (col("doc_id") % 4).cast("string"),
      lit("'>y</a>")).as("text"))

  /** [[discoveryFixture]]'s DuckDB spelling. */
  private val discoveryFixtureSqlExpr: String =
    """'<a href="HTTPS://EX' || (doc_id % 9) || '.ORG/hub/' ||
       ((doc_id // 5) % 5) || '?utm_src=a' || (doc_id % 7) || '#f' ||
       (doc_id % 3) || '">h</a><a href="https://ex' || (doc_id % 9) ||
       '.org/p/' || doc_id || '">x</a> ' || text ||
       ' <a href=''/rel/' || (doc_id % 4) || '''>y</a>'"""

  /** [[linkFixture]]'s DuckDB spelling: a SQL expression over
    * documents' (doc_id, text) producing the same grafted markup
    * byte-for-byte. */
  private def linkFixtureSqlExpr(withHub: Boolean): String = {
    val base =
      """'<a href="https://ex' || (doc_id % 9) || '.org/p/' || doc_id ||
         '">x</a> ' || text || ' <a href=''/rel/' || (doc_id % 4) ||
         '''>y</a><a href="http://m' || (doc_id % 3) || '.net/q?id=' ||
         doc_id || '">z</a><a href=bare' || (doc_id % 6) ||
         '.html>b</a><a href=''https://sq' || (doc_id % 5) || '.io/s/' ||
         doc_id || '''>s</a>'"""
    if (withHub) base +
      """ || '<a href="https://ex' || (doc_id % 9) || '.org/hub/' ||
         (doc_id % 5) || '">h</a>'"""
    else base
  }

  /** q164/q165's WEIGHTED host fixture: each doc (living on
    * ex(doc_id mod 9).org) links its own page (self-loop — must
    * drop), its residue's m host REPEATED 1 + (doc_id mod 9) mod 4
    * times (anchor VOLUME varies by source host — the weighted
    * signal; 3 | 9 forces m = k mod 3, so the multiplicity is a
    * genuine per-edge weight, not noise), and one single-quoted sq
    * anchor. [[weightedLinkFixtureSqlExpr]] is the
    * character-identical DuckDB spelling (the linkFixture
    * discipline).
    */
  private def weightedLinkFixture(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<a href=\"https://ex"), (col("doc_id") % 9).cast("string"),
      lit(".org/p/"), col("doc_id").cast("string"), lit("\">x</a>"),
      expr("repeat('<a href=\"http://m' || cast(doc_id % 3 as string) || " +
        "'.net/q/' || cast(doc_id % 9 as string) || '\">z</a>', " +
        "cast(1 + (doc_id % 9) % 4 as int))"),
      lit(" "), col("text"),
      lit(" <a href='https://sq"), (col("doc_id") % 5).cast("string"),
      lit(".io/s'>s</a>")).as("text"))

  /** [[weightedLinkFixture]]'s DuckDB spelling. */
  private val weightedLinkFixtureSqlExpr: String =
    """'<a href="https://ex' || (doc_id % 9) || '.org/p/' || doc_id ||
       '">x</a>' || repeat('<a href="http://m' || (doc_id % 3) ||
       '.net/q/' || (doc_id % 9) || '">z</a>',
       (1 + (doc_id % 9) % 4)::INT) || ' ' || text ||
       ' <a href=''https://sq' || (doc_id % 5) || '.io/s''>s</a>'"""

  /** The host edges (doc_id, src_host, dst_host) of an extracted link
    * stream: every fixture doc lives on ex(doc_id mod 9).org, and each
    * of its links with a host is one edge to that host.
    */
  private def hostEdges(
      links: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    links.filter(col("host") =!= "")
      .select(col("doc_id"),
        concat(lit("ex"), (col("doc_id") % 9).cast("string"),
          lit(".org")).as("src_host"),
        col("host").as("dst_host"))

  /** q159's unrolled HITS rounds (the pagerankRoundsSql discipline):
    * round k derives authority in-sums off h(k-1) over the directed
    * edges `e`, renormalizes by the round max to the PageRank scale,
    * then hubs off the new authorities. DuckDB's sum() over BIGINT is
    * HUGEINT, so the `raw * scale` products are 128-bit exact —
    * mirroring the Spark side's decimal(38,0) arithmetic. Vertices
    * missing from a raw-sum (no in-/out-edges) coalesce to 0.
    */
  private def hitsRoundsSql(iterations: Int): String = {
    val scale = graft.operators.PageRank.Scale
    (1 to iterations).map { k =>
      s"""ar$k AS (
  SELECT e.t AS id, sum(h${k - 1}.h) AS ar
  FROM e JOIN h${k - 1} ON e.s = h${k - 1}.id GROUP BY 1),
am$k AS (SELECT max(ar) AS m FROM ar$k),
a$k AS (SELECT v.id,
               coalesce((ar$k.ar * $scale) // am$k.m, 0)::BIGINT AS a
        FROM v LEFT JOIN ar$k ON v.id = ar$k.id CROSS JOIN am$k),
hr$k AS (
  SELECT e.s AS id, sum(a$k.a) AS hr
  FROM e JOIN a$k ON e.t = a$k.id GROUP BY 1),
hm$k AS (SELECT max(hr) AS m FROM hr$k),
h$k AS (SELECT v.id,
               coalesce((hr$k.hr * $scale) // hm$k.m, 0)::BIGINT AS h
        FROM v LEFT JOIN hr$k ON v.id = hr$k.id CROSS JOIN hm$k)"""
    }.mkString(",\n")
  }

  /** q152's full-corpus host-centrality oracle, parameterized by a
    * directed-host-row filter — ONE definition shared by q152, q160
    * (PageRank over the FOLDED edge index; fold==rebuild is checked
    * against literally the same SQL) and q169 (the takedown twin,
    * whose filter EXCLUDES the removed host's rows — tombstoning
    * every edge incident to a host is exactly deleting its th rows).
    */
  private def hostCentralityOracleSqlFor(thWhere: String): String = s"""
WITH p AS (
  SELECT doc_id, ${linkFixtureSqlExpr(withHub = false)} AS t0
  FROM documents),
l AS (SELECT doc_id,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.HrefPattern)}', 1) AS links
      FROM p),
x AS (SELECT doc_id,
             regexp_replace(links[g.i],
               '${sqlQuoted(graft.api.TextOps.HrefUnquotePattern)}', '\\1\\2') AS href
      FROM l CROSS JOIN generate_series(1, 8) g(i)
      WHERE g.i <= len(links)),
th0 AS (SELECT 'ex' || (doc_id % 9) || '.org' AS src,
              regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) AS dst
       FROM x
       WHERE regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) <> ''),
th AS (SELECT * FROM th0 $thWhere),
hh AS (SELECT src, dst, ${graft.functions.TextHashing.hash60Sql("src")} AS hs,
              ${graft.functions.TextHashing.hash60Sql("dst")} AS ht
       FROM th),
ed AS (SELECT DISTINCT least(hs, ht) AS a, greatest(hs, ht) AS b
       FROM hh WHERE hs <> ht),
e AS (SELECT a AS s, b AS t FROM ed UNION SELECT b, a FROM ed),
deg AS (SELECT s AS id, count(*) AS degree FROM e GROUP BY 1),
r0 AS (SELECT id, degree, ${graft.operators.PageRank.Scale}::BIGINT AS r FROM deg),
${DedupQueries.pagerankRoundsSql(5)},
v AS (SELECT DISTINCT src AS host FROM th
      UNION SELECT DISTINCT dst FROM th)
SELECT v.host, r5.degree, r5.r AS rank
FROM r5 JOIN v ON ${graft.functions.TextHashing.hash60Sql("v.host")} = r5.id"""

  private lazy val hostCentralityOracleSql: String =
    hostCentralityOracleSqlFor("")

  /** q159's full-corpus HITS oracle — shared with q161 (HITS over the
    * folded edge index), the [[hostCentralityOracleSql]] discipline.
    */
  private lazy val hostHitsOracleSql: String = s"""
WITH p AS (
  SELECT doc_id, ${linkFixtureSqlExpr(withHub = false)} AS t0
  FROM documents),
l AS (SELECT doc_id,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.HrefPattern)}', 1) AS links
      FROM p),
x AS (SELECT doc_id,
             regexp_replace(links[g.i],
               '${sqlQuoted(graft.api.TextOps.HrefUnquotePattern)}', '\\1\\2') AS href
      FROM l CROSS JOIN generate_series(1, 8) g(i)
      WHERE g.i <= len(links)),
th AS (SELECT 'ex' || (doc_id % 9) || '.org' AS src,
              regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) AS dst
       FROM x
       WHERE regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) <> ''),
hh AS (SELECT src, dst, ${graft.functions.TextHashing.hash60Sql("src")} AS hs,
              ${graft.functions.TextHashing.hash60Sql("dst")} AS ht
       FROM th),
f AS (SELECT src, dst, hs, ht FROM hh WHERE hs <> ht),
e AS (SELECT DISTINCT hs AS s, ht AS t FROM f),
v AS (SELECT DISTINCT s AS id FROM e UNION SELECT DISTINCT t FROM e),
h0 AS (SELECT id, ${graft.operators.PageRank.Scale}::BIGINT AS h FROM v),
${hitsRoundsSql(3)},
kk AS (SELECT DISTINCT src AS host, hs AS id FROM f
       UNION SELECT DISTINCT dst, ht FROM f)
SELECT kk.host, h3.h AS hub, a3.a AS auth
FROM kk JOIN h3 ON kk.id = h3.id JOIN a3 ON kk.id = a3.id"""

  /** q164's anchor-volume-weighted host-centrality oracle — ONE
    * definition shared with q165 (weighted ranks over the FOLDED
    * weighted edge index), the [[hostCentralityOracleSql]]
    * discipline: the weighted rounds come from the SAME generator
    * q126's doc-graph oracle unrolls
    * (DedupQueries.weightedPagerankRoundsSql), so the weighted round
    * arithmetic cannot drift between the doc-graph and host-graph
    * consumers.
    */
  /** The weighted host FIXTURE prefix shared by every weighted-host-
    * graph oracle (the rank chain below, and q168's weighted HITS):
    * fixture → per-occurrence links `a(doc_id, href, host)` → directed
    * host rows `th` → hashed rows `hh`. One text — the fixture,
    * extraction and hashing cannot drift between the undirected-rank
    * and directed-HITS consumers by edit.
    */
  private def weightedHostFixtureCtesFor(thWhere: String): String = s"""p AS (
  SELECT doc_id, $weightedLinkFixtureSqlExpr AS t0
  FROM documents),
l AS (SELECT doc_id,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.HrefPattern)}', 1) AS links
      FROM p),
x AS (SELECT doc_id,
             regexp_replace(links[g.i],
               '${sqlQuoted(graft.api.TextOps.HrefUnquotePattern)}', '\\1\\2') AS href
      FROM l CROSS JOIN generate_series(1, 7) g(i)
      WHERE g.i <= len(links)),
a AS (SELECT doc_id, href,
             regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) AS host
      FROM x
      WHERE regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) <> ''),
th0 AS (SELECT 'ex' || (doc_id % 9) || '.org' AS src, host AS dst FROM a),
th AS (SELECT * FROM th0 $thWhere),
hh AS (SELECT src, dst, ${graft.functions.TextHashing.hash60Sql("src")} AS hs,
              ${graft.functions.TextHashing.hash60Sql("dst")} AS ht
       FROM th)"""

  private lazy val weightedHostFixtureCtes: String =
    weightedHostFixtureCtesFor("")

  /** The shared CTE PREFIX of the weighted-host-RANK oracles
    * (q164/q165's rank, q167's scheduler composition): the
    * [[weightedHostFixtureCtes]] fixture → weighted unordered edges →
    * the q126-generator rounds → `v` (all hosts). One text, three
    * consumers — the weighting and round arithmetic cannot drift by
    * edit.
    */
  private def weightedHostRankCtesFor(thWhere: String): String =
    s"""${weightedHostFixtureCtesFor(thWhere)},
e0 AS (SELECT least(hs, ht) AS a, greatest(hs, ht) AS b,
              count(*)::BIGINT AS w
       FROM hh WHERE hs <> ht GROUP BY 1, 2),
e AS (SELECT a AS s, b AS t, w FROM e0 UNION ALL SELECT b, a, w FROM e0),
deg AS (SELECT s AS id, sum(w)::BIGINT AS w_degree FROM e GROUP BY 1),
r0 AS (SELECT id, w_degree, ${graft.operators.PageRank.Scale}::BIGINT AS r FROM deg),
${DedupQueries.weightedPagerankRoundsSql(5)},
v AS (SELECT DISTINCT src AS host FROM th
      UNION SELECT DISTINCT dst FROM th)"""

  private lazy val weightedHostRankCtes: String = weightedHostRankCtesFor("")

  /** q168's unrolled WEIGHTED-HITS rounds — [[hitsRoundsSql]] with
    * each hop's contribution multiplied by the edge weight
    * (`sum(h·w)` / `sum(a·w)`), the same generator discipline as
    * DedupQueries.weightedPagerankRoundsSql vs pagerankRoundsSql.
    * Products are forced to HUGEINT (`h::HUGEINT * w`) mirroring the
    * Spark side's decimal(38,0) — a BIGINT product would wrap at
    * h × w ≈ 2^63.
    */
  private def weightedHitsRoundsSql(iterations: Int): String = {
    val scale = graft.operators.PageRank.Scale
    (1 to iterations).map { k =>
      s"""ar$k AS (
  SELECT e.t AS id, sum(h${k - 1}.h::HUGEINT * e.w) AS ar
  FROM e JOIN h${k - 1} ON e.s = h${k - 1}.id GROUP BY 1),
am$k AS (SELECT max(ar) AS m FROM ar$k),
a$k AS (SELECT v.id,
               coalesce((ar$k.ar * $scale) // am$k.m, 0)::BIGINT AS a
        FROM v LEFT JOIN ar$k ON v.id = ar$k.id CROSS JOIN am$k),
hr$k AS (
  SELECT e.s AS id, sum(a$k.a::HUGEINT * e.w) AS hr
  FROM e JOIN a$k ON e.t = a$k.id GROUP BY 1),
hm$k AS (SELECT max(hr) AS m FROM hr$k),
h$k AS (SELECT v.id,
               coalesce((hr$k.hr * $scale) // hm$k.m, 0)::BIGINT AS h
        FROM v LEFT JOIN hr$k ON v.id = hr$k.id CROSS JOIN hm$k)"""
    }.mkString(",\n")
  }

  /** q168's full-corpus weighted-HITS oracle over the SHARED weighted
    * host fixture ([[weightedHostFixtureCtes]] — the same text
    * q164/q165/q167 rank): directed hash pairs with SUMMED
    * per-occurrence weight, three weighted mutual-recursion rounds,
    * key join-back — the [[hostHitsOracleSql]] shape at anchor-volume
    * granularity.
    */
  private lazy val weightedHostHitsOracleSql: String = s"""
WITH $weightedHostFixtureCtes,
f AS (SELECT src, dst, hs, ht FROM hh WHERE hs <> ht),
e AS (SELECT hs AS s, ht AS t, count(*)::BIGINT AS w FROM f GROUP BY 1, 2),
v AS (SELECT DISTINCT s AS id FROM e UNION SELECT DISTINCT t FROM e),
h0 AS (SELECT id, ${graft.operators.PageRank.Scale}::BIGINT AS h FROM v),
${weightedHitsRoundsSql(3)},
kk AS (SELECT DISTINCT src AS host, hs AS id FROM f
       UNION SELECT DISTINCT dst, ht FROM f)
SELECT kk.host, h3.h AS hub, a3.a AS auth
FROM kk JOIN h3 ON kk.id = h3.id JOIN a3 ON kk.id = a3.id"""

  /** The weighted host-rank oracle, parameterized like
    * [[hostCentralityOracleSqlFor]] — "" for q164/q165, the
    * removed-host exclusion for q170 (netting every incident directed
    * pair to 0 is exactly deleting the host's th rows).
    */
  private def weightedHostRankOracleSqlFor(thWhere: String): String = s"""
WITH ${weightedHostRankCtesFor(thWhere)}
SELECT v.host, r5.w_degree, r5.r AS rank
FROM r5 JOIN v ON ${graft.functions.TextHashing.hash60Sql("v.host")} = r5.id"""

  private lazy val weightedHostRankOracleSql: String =
    weightedHostRankOracleSqlFor("")

  /** q167's oracle: the [[weightedHostRankCtes]] prefix composed with
    * q146's budget rollup over the SAME per-occurrence link rows —
    * the q154 one-extraction-feeds-both-legs discipline at anchor-
    * volume granularity.
    */
  private lazy val weightedFrontierPriorityOracleSql: String = s"""
WITH $weightedHostRankCtes,
gg AS (SELECT host, href, count(*)::BIGINT AS n_refs FROM a GROUP BY 1, 2),
rb AS (SELECT host, href, n_refs,
              row_number() OVER (PARTITION BY host
                ORDER BY n_refs DESC, href)::BIGINT AS fetch_rank
       FROM gg),
hr AS (SELECT v.host, r5.r AS host_rank
       FROM r5 JOIN v ON ${graft.functions.TextHashing.hash60Sql("v.host")} = r5.id)
SELECT rb.host, rb.href, rb.n_refs, rb.fetch_rank, hr.host_rank
FROM rb JOIN hr ON rb.host = hr.host
WHERE rb.fetch_rank <= 7"""

  /** The materialized FOLDED weighted edge index per SF dir (the
    * [[foldedEdgeDir]] pattern): v1 = the %5!=0 docs' weighted link
    * occurrences, the %5==0 slice's maintain-fold in. Unlike the doc
    * graph's disjoint pair split, the host pairs here OVERLAP across
    * the two slices by construction (residues span both), so the
    * oracle-checked fold==rebuild hash exercises the cross-run SUM
    * reconcile with genuinely split weights.
    */
  private[graft] def foldedWeightedHostDir(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    SharedStages.artifact(dir, "foldedwhost")(weightedHostIndex(s, dir, _))

  /** Writes [[foldedWeightedHostDir]]'s index under `root`; returns
    * its path. */
  private def weightedHostIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, root: String): String = {
    val ix = s"$root/ix"
    val edges = hostEdges(graft.api.TextOps.extractLinks(
      weightedLinkFixture(Tables.documents(s, dir)), "doc_id", "text"))
      .withColumn("w1", lit(1L))
    graft.operators.PageRank.writeWeightedEdgeIndex(
      edges.filter(col("doc_id") % 5 =!= 0), "src_host", "dst_host",
      "w1", ix)
    graft.operators.PageRank.maintainWeightedEdgeIndex(
      edges.filter(col("doc_id") % 5 === 0), "src_host", "dst_host",
      "w1", ix)
    ix
  }

  /** The materialized FOLDED edge index per SF dir (q160 and q161
    * consume the identical artifact): v1 = links of docs with
    * doc_id % 5 != 0, then the %5==0 slice's links maintain-fold in.
    * Ranking over this index must equal ranking the FULL link stream —
    * the driver checks it against
    * [[hostCentralityOracleSql]]/[[hostHitsOracleSql]] verbatim.
    */
  private[graft] def foldedEdgeDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SharedStages.artifact(dir, "foldededge")(edgeIndex(s, dir, _))

  /** Writes [[foldedEdgeDir]]'s index under `root`; returns its path. */
  private def edgeIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, root: String): String = {
    val ix = s"$root/ix"
    val edges = hostEdges(graft.api.TextOps.extractLinks(
      linkFixture(Tables.documents(s, dir)), "doc_id", "text"))
    graft.operators.PageRank.writeEdgeIndex(
      edges.filter(col("doc_id") % 5 =!= 0), "src_host", "dst_host", ix)
    graft.operators.PageRank.maintainEdgeIndex(
      edges.filter(col("doc_id") % 5 === 0), "src_host", "dst_host", ix)
    ix
  }

  /** q154's full scheduler oracle — ONE definition shared with q162
    * (the deployed twin ranking off the MAINTAINED edge index), the
    * [[hostCentralityOracleSql]] discipline.
    */
  private lazy val frontierPriorityOracleSql: String = s"""
WITH p AS (
  SELECT doc_id, ${linkFixtureSqlExpr(withHub = true)} AS t0
  FROM documents),
l AS (SELECT doc_id,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.HrefPattern)}', 1) AS links
      FROM p),
x AS (SELECT doc_id,
             regexp_replace(links[g.i],
               '${sqlQuoted(graft.api.TextOps.HrefUnquotePattern)}', '\\1\\2') AS href
      FROM l CROSS JOIN generate_series(1, 8) g(i)
      WHERE g.i <= len(links)),
a AS (SELECT doc_id, href,
             regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) AS host
      FROM x
      WHERE regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) <> ''),
g AS (SELECT host, href, count(*)::BIGINT AS n_refs FROM a GROUP BY 1, 2),
r AS (SELECT host, href, n_refs,
             row_number() OVER (PARTITION BY host
               ORDER BY n_refs DESC, href)::BIGINT AS fetch_rank
      FROM g),
th AS (SELECT 'ex' || (doc_id % 9) || '.org' AS src, host AS dst FROM a),
hh AS (SELECT src, dst, ${graft.functions.TextHashing.hash60Sql("src")} AS hs,
              ${graft.functions.TextHashing.hash60Sql("dst")} AS ht
       FROM th),
ed AS (SELECT DISTINCT least(hs, ht) AS a, greatest(hs, ht) AS b
       FROM hh WHERE hs <> ht),
e AS (SELECT a AS s, b AS t FROM ed UNION SELECT b, a FROM ed),
deg AS (SELECT s AS id, count(*) AS degree FROM e GROUP BY 1),
r0 AS (SELECT id, degree, ${graft.operators.PageRank.Scale}::BIGINT AS r FROM deg),
${DedupQueries.pagerankRoundsSql(5)},
v AS (SELECT DISTINCT src AS host FROM th
      UNION SELECT DISTINCT dst FROM th),
hr AS (SELECT v.host, r5.r AS host_rank
       FROM r5 JOIN v ON ${graft.functions.TextHashing.hash60Sql("v.host")} = r5.id)
SELECT r.host, r.href, r.n_refs, r.fetch_rank, hr.host_rank
FROM r JOIN hr ON r.host = hr.host
WHERE r.fetch_rank <= 7"""

  /** q86's URL fixture: the documents table carries no URL column, so
    * ONE deterministic URL-per-doc generator is emitted into BOTH
    * engines (`castT` = string/varchar, `div` = div|`//` — the only
    * dialect deltas). Canonical identity is a function of
    * g = doc_id div 3; the junk a canonicalizer must strip (scheme/
    * host case, userinfo, default ports, tracking params, fragments,
    * trailing slash) varies per doc_id — so each 3-doc group yields 3
    * DIFFERENT raw URLs that canonicalize to ONE. doc_id >= 0, so div
    * == floor-div across engines.
    */
  private[queries] def urlFixtureSql(castT: String, div: String): String = {
    def c(e: String) = s"cast(($e) as $castT)"
    val g = s"(doc_id $div 3)"
    s"""(CASE WHEN $g % 2 = 0
        THEN (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END)
        ELSE (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) END)
 || '://'
 || (CASE WHEN doc_id % 6 = 0 THEN 'crawler:secret@' ELSE '' END)
 || (CASE WHEN doc_id % 3 = 0 THEN 'H' ELSE 'h' END)
 || ${c(s"$g % 50")} || '.Example.com'
 || (CASE WHEN $g % 7 = 0 THEN ':8080'
          WHEN doc_id % 4 = 0 THEN (CASE WHEN $g % 2 = 0 THEN ':80' ELSE ':443' END)
          ELSE '' END)
 || '/p/' || ${c(g)}
 || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
 || (CASE WHEN $g % 11 = 0 THEN '?fbclid=' || ${c("doc_id")}
          WHEN doc_id % 3 = 0 THEN '?utm_campaign=c' || ${c("doc_id")} || '&id=' || ${c(g)}
          WHEN doc_id % 3 = 1 THEN '?id=' || ${c(g)} || '&utm_source=feed'
          ELSE '?id=' || ${c(g)} END)
 || (CASE WHEN doc_id % 3 = 1 THEN '#sec' || ${c("doc_id")} ELSE '' END)"""
  }

  /** q44's repetition-filter SQL over any doc table — re-run by the
    * composed curation pipeline (CurationQueries) over the same
    * generator, so the quality gate cannot drift between the
    * standalone query and the composition.
    */
  private[queries] def repetitionSql(table: String): String = {
    val gram3 = (0 until 3).map(j => s"string_split(text,' ')[i+$j]")
      .mkString(" || ' ' || ")
    val P = graft.functions.TextHashing.P
    s"""
WITH s AS (SELECT doc_id,
  greatest(len(string_split(text,' ')) - 2, 0)::BIGINT AS total_grams,
  CASE WHEN len(string_split(text,' ')) >= 3 THEN
    len(list_distinct(list_transform(
      list_transform(generate_series(1, len(string_split(text,' '))-2), i -> $gram3),
      g -> ${graft.functions.TextHashing.hash60Sql("g")} % $P)))::BIGINT
  ELSE 0 END AS nd
  FROM $table),
d AS (SELECT doc_id, total_grams,
             CASE WHEN total_grams > 0
                  THEN ((total_grams - nd) * 1000) // total_grams
                  ELSE 0 END AS dup_x1000
      FROM s)
SELECT doc_id, total_grams, dup_x1000, dup_x1000 <= 300 AS keep
FROM d"""
  }

  /** q88's bigram-LM quality SQL over any doc table (same
    * single-generator contract as [[repetitionSql]]). The LM trains on
    * whatever table it is handed — the curation pipeline hands it the
    * RAW corpus (quality scores are per-doc signals computed before
    * dedup order matters).
    */
  private[queries] def bigramKeepSql(table: String): String = s"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $table),
bi AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
       FROM (SELECT doc_id, tk,
                    unnest(generate_series(1, len(tk) - 1)) AS i
             FROM toks WHERE len(tk) >= 2)),
db AS (SELECT doc_id, w1, w2, count(*) AS n FROM bi GROUP BY 1, 2, 3),
c2 AS (SELECT w1, w2, sum(n) AS c2 FROM db GROUP BY 1, 2),
c1 AS (SELECT w1, sum(n) AS c1 FROM db GROUP BY 1),
vv AS (SELECT count(DISTINCT w) AS v
       FROM (SELECT unnest(tk) AS w FROM toks)),
sc AS (SELECT doc_id,
              sum(n * ((len(bin(c2 + 1)) - 1) - (len(bin(c1 + v)) - 1)))::BIGINT AS sum_q2,
              sum(n)::BIGINT AS n_bigrams
       FROM db JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv
       GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(sc.sum_q2, 0)::BIGINT AS sum_q2,
       (coalesce(sc.n_bigrams, 0) = 0 OR
        coalesce(sc.sum_q2, 0) * 1000 >= -4600 * coalesce(sc.n_bigrams, 0)) AS keep
FROM $table d LEFT JOIN sc ON d.doc_id = sc.doc_id"""

  /** q86's full URL-dedup SQL (fixture → canonicalize → group by
    * canonical form) over any doc table — the composed curation
    * pipeline runs it as its front door over the same generator, so
    * the canonicalization cannot drift between the standalone query
    * and the composition. Output: canonical_url, keeper_id, n_copies.
    */
  /** The DuckDB spelling of [[graft.api.TextOps.canonicalUrl]] as a
    * CTE chain: reads a CTE `u(doc_id, url)`, ends at
    * `canon(doc_id, canonical_url)`. ONE generator shared by q86's
    * dedup oracle and q147's frontier-discovery oracle — the shared-
    * fragment discipline so the two cannot drift in what
    * "canonical" means.
    */
  private[queries] val urlCanonCtes: String = s"""c0 AS (SELECT doc_id, url,
  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM u),
c1 AS (SELECT *, regexp_replace(rest, '^[^/@?#]*@', '') AS rest1 FROM c0),
c2 AS (SELECT *,
  regexp_extract(rest1, '^([^/?#]*)', 1) AS hostport,
  regexp_replace(rest1, '^[^/?#]*', '') AS pathq FROM c1),
c3 AS (SELECT *,
  lower(regexp_replace(hostport, ':[0-9]*$$', '')) AS host,
  regexp_extract(hostport, ':([0-9]+)$$', 1) AS port FROM c2),
c4 AS (SELECT *, regexp_replace(pathq, '#.*', '') AS pf FROM c3),
c5 AS (SELECT *,
  regexp_extract(pf, '^([^?]*)', 1) AS path0,
  regexp_extract(pf, '\\?(.*)', 1) AS query0 FROM c4),
c6 AS (SELECT *,
  regexp_replace(regexp_replace(regexp_replace(query0,
    '(^|&)(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&]*', '\\1', 'g'),
    '&&+', '&', 'g'), '^&+|&+$$', '', 'g') AS query1,
  CASE WHEN path0 = '' THEN '/'
       ELSE regexp_replace(path0, '(.+?)/+$$', '\\1') END AS path1
  FROM c5),
canon AS (SELECT doc_id,
  CASE WHEN scheme = '' THEN url
       ELSE scheme || '://' || host ||
            (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443')
                  THEN '' ELSE ':' || port END) ||
            path1 ||
            (CASE WHEN query1 = '' THEN '' ELSE '?' || query1 END)
  END AS canonical_url
  FROM c6)"""

  private[queries] def urlDedupSql(table: String): String = s"""
WITH u AS (SELECT doc_id, ${urlFixtureSql("varchar", "//")} AS url FROM $table),
$urlCanonCtes
SELECT canonical_url, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM canon GROUP BY 1"""

  /** q108's BM25 CTE chain (toks..r, ranked per query), shared
    * VERBATIM with q112's lexical leg — one generator, no drift.
    */
  private[queries] val bm25RankCte: String = """toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
tf AS (SELECT doc_id, dl, t, count(*)::BIGINT AS tf
       FROM (SELECT doc_id, len(tk)::BIGINT AS dl, unnest(tk) AS t
             FROM toks)
       GROUP BY 1,2,3),
dfq AS (SELECT t, count(*)::BIGINT AS df FROM tf GROUP BY 1),
gl AS (SELECT count(*)::BIGINT AS n, sum(len(tk))::BIGINT AS tt FROM toks),
q AS (SELECT DISTINCT doc_id AS qid, unnest(string_split(text,' ')) AS t
      FROM documents WHERE doc_id % 100 = 0),
idf AS (SELECT t, (e - 20) * 1024 + (m - 1024) AS idf
        FROM (SELECT t, e, r // (pow(2, e - 10)::BIGINT) AS m
              FROM (SELECT t, ((gl.n + 1) * 1048576) // df AS r,
                           len(bin(((gl.n + 1) * 1048576) // df)) - 1 AS e
                    FROM dfq CROSS JOIN gl))),
sc AS (SELECT q.qid, tf.doc_id,
         sum(idf.idf *
             ((tf.tf * 2200000) //
              (tf.tf * 1000 +
               (1200 * (250 + (750 * tf.dl * gl.n) // gl.tt)) // 1000)))
           ::BIGINT AS score
       FROM tf JOIN q USING (t) JOIN idf USING (t) CROSS JOIN gl
       WHERE tf.doc_id <> q.qid
       GROUP BY 1,2),
r AS (SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id ASC) AS rank
      FROM sc)"""

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q15_dedup_exact",
      "Exact dedup: hash-groupBy on md5(text); keeper = min doc_id. " +
        "Single exchange on the digest; at 100TB the digest (16B) " +
        "shuffles instead of the document bodies.",
      Some("""
SELECT md5(text) AS sig, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents
GROUP BY 1"""),
      (s, dir) =>
        graft.api.DedupOps.exactDuplicates(
          Tables.documents(s, dir), "doc_id", "text")),

    QueryDef(
      "q16_token_stats",
      "Token counting: whitespace tokens, BPE-ish regex tokens (letter/" +
        "digit/symbol runs — the pre-tokenizer segmentation, cross-" +
        "engine-exact regex), and char length per document — narrow " +
        "map-only plan, no shuffle at all.",
      Some(s"""
SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
       len(regexp_extract_all(text, '${graft.api.TextOps.BpeTokenPattern}', 0))::BIGINT AS n_tokens_re,
       length(text) AS text_len
FROM documents"""),
      (s, dir) =>
        graft.api.TextOps.tokenStats(Tables.documents(s, dir), "doc_id", "text")),

    QueryDef(
      "q17_quality_score",
      "Quality scoring: mean token length and stopword ratio as exact " +
        "integer fixed-point (×1000) so the score is engine-independent; " +
        "quality bucket by thresholds. Map-only.",
      Some(s"""
WITH t AS (
  SELECT doc_id, length(text) AS n_char,
         len(string_split(text, ' '))::BIGINT AS n_tok,
         ${occSql("text", " the ")} AS n_stop
  FROM documents)
SELECT doc_id, n_tok,
       ((n_char - (n_tok - 1)) * 1000) // n_tok AS tok_len_x1000,
       (n_stop * 1000) // n_tok AS stop_x1000,
       CASE WHEN n_tok >= 40 AND (n_stop * 1000) // n_tok >= 20 THEN 'high'
            WHEN n_tok >= 15 THEN 'medium' ELSE 'low' END AS quality
FROM t"""),
      (s, dir) =>
        graft.api.TextOps.qualityScore(
          Tables.documents(s, dir), "doc_id", "text")),

    QueryDef(
      "q18_lang_id",
      "Language-ID heuristic: marker-token occurrence scores with a " +
        "deterministic argmax (first-wins tie-break). Map-only; the " +
        "marker table is a compile-time constant, not a join.",
      Some({
        val ms = Seq("en" -> " scan ", "es" -> " join ", "de" -> " filter ",
          "zh" -> " window ", "fr" -> " group ")
        val scores = ms.map { case (l, w) => s"${occSql("text", w)} AS s_$l" }
          .mkString(", ")
        val argmax = ms.map(_._1).map { l =>
          val geq = ms.map(_._1).filterNot(_ == l)
            .map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"WHEN $geq THEN '$l'"
        }.dropRight(1).mkString(" ")
        s"""
WITH t AS (SELECT doc_id, lang, $scores FROM documents)
SELECT doc_id, lang,
       CASE $argmax ELSE 'fr' END AS pred_lang,
       CASE WHEN (CASE $argmax ELSE 'fr' END) = lang THEN 1 ELSE 0 END AS hit
FROM t"""
      }),
      (s, dir) => {
        val ms = Seq("en" -> " scan ", "es" -> " join ", "de" -> " filter ",
          "zh" -> " window ", "fr" -> " group ")
        graft.api.TextOps.langId(
            Tables.documents(s, dir).select(col("doc_id"), col("lang"),
              col("text")), "text", ms)
          .select(col("doc_id"), col("lang"), col("pred_lang"),
            when(col("pred_lang") === col("lang"), 1L).otherwise(0L).as("hit"))
      }),

    QueryDef(
      "q19_doc_fingerprint",
      "Document fingerprinting: full-text digest + 64-char-prefix digest " +
        "+ length bucket (cheap near-dup blocking keys). Map-only.",
      Some("""
SELECT doc_id, md5(text) AS sig,
       md5(substring(text, 1, 64)) AS prefix_sig,
       n_chars // 100 AS len_bucket
FROM documents"""),
      (s, dir) =>
        graft.api.TextOps.fingerprint(
          Tables.documents(s, dir), "doc_id", "text", "n_chars")),

    QueryDef(
      "q20_ann_cosine_topk",
      "Similarity search baseline: brute-force cosine top-10 for a fixed " +
        "query set (vec_id < 50) against all vectors. Query side is " +
        "broadcast; rank is per-query. Dot products are left-to-right " +
        "double folds == DuckDB list_dot_product, so sims are " +
        "bit-identical. Scale path is the LSH/IVF variant (q25).",
      Some("""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
j AS (SELECT q.vec_id AS qid, b.vec_id AS nid,
             list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS sim
      FROM (SELECT * FROM n WHERE vec_id < 50) q, n b
      WHERE b.vec_id <> q.vec_id)
SELECT qid, nid,
       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rn
FROM j
QUALIFY rn <= 10"""),
      (s, dir) =>
        graft.api.VectorOps.annBruteTopK(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          queryPred = col("vec_id") < 50, k = 10)),

    QueryDef(
      "q41_hash_split",
      "Deterministic train/val/test assignment: bucket = md5-hash60 of " +
        "the doc id string, mod 100 -> train <90, val <95, test rest. " +
        "Hash splitting (not rand) is how real pipelines keep splits " +
        "reproducible across runs/engines AND stable under corpus " +
        "growth (a doc's split never changes when others are added). " +
        "Per-split counts + token sums; map-side agg, one tiny exchange.",
      Some(s"""
WITH a AS (
  SELECT doc_id,
         ${graft.functions.TextHashing.hash60Sql("doc_id::VARCHAR")} % 100 AS b,
         len(string_split(text, ' '))::BIGINT AS n_tok
  FROM documents),
t AS (SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                  ELSE 'test' END AS split, n_tok FROM a)
SELECT split, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
FROM t GROUP BY split"""),
      (s, dir) =>
        Tables.documents(s, dir)
          .select(
            graft.api.SampleOps.splitColumn(col("doc_id"), 90, 5).as("split"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))),

    QueryDef(
      "q42_decontamination",
      "Benchmark decontamination: corpus documents sharing any hashed " +
        "8-token gram with the benchmark set (docs with doc_id % 50 = 0 " +
        "stand in for a held-out eval set) are flagged with their " +
        "overlap count — the n-gram-overlap rule real LLM pipelines run " +
        "before training. At 100TB the benchmark side is tiny and " +
        "BROADCAST: the corpus is a map-only gram explode + broadcast " +
        "semi-join + partial-agg count; corpus documents never shuffle.",
      Some {
        val gram8 = (0 until 8).map(j => s"string_split(text,' ')[i+$j]")
          .mkString(" || ' ' || ")
        val P = graft.functions.TextHashing.P
        s"""
WITH s AS (SELECT doc_id,
  list_distinct(list_transform(
    list_transform(generate_series(1, len(string_split(text,' '))-7), i -> $gram8),
    g -> ${graft.functions.TextHashing.hash60Sql("g")} % $P)) AS gs
  FROM documents WHERE len(string_split(text,' ')) >= 8),
b AS (SELECT DISTINCT unnest(gs) AS g FROM s WHERE doc_id % 50 = 0),
c AS (SELECT doc_id, unnest(gs) AS g FROM s WHERE doc_id % 50 <> 0)
SELECT doc_id, count(*) AS n_shared_grams
FROM c JOIN b USING (g)
GROUP BY doc_id"""
      },
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.api.TextOps.decontaminate(
          corpus = docs.filter(col("doc_id") % 50 =!= 0),
          benchmark = docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 8)
      }),

    QueryDef(
      "q43_tfidf_topterms",
      "TF-IDF top terms per document (integer fixed-point: score = " +
        "tf * 1e6 div df — rank-equivalent to tf*N/df with N constant, " +
        "and exactly reproducible cross-engine, no float log). Term " +
        "frequencies and document frequencies are partial-aggregated; " +
        "the tf<->df join hashes on term (both sides co-partitioned by " +
        "the join key); the per-doc top-3 is a single-pass bounded " +
        "topk_agg — <= 3 entries per (doc, mapper) shuffle, no window " +
        "sort of the full posting matrix.",
      Some("""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
sc AS (SELECT doc_id, term, (tf * 1000000) // df AS score_x
       FROM tf JOIN df USING (term)),
r AS (SELECT doc_id, term, score_x,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_x DESC, term ASC) AS rn
      FROM sc)
SELECT doc_id, term, score_x, rn FROM r WHERE rn <= 3"""),
      (s, dir) =>
        graft.api.TextOps.tfidfTopTerms(
          Tables.documents(s, dir), "doc_id", "text", k = 3)),

    QueryDef(
      "q44_repetition_filter",
      "Within-document repetition filter (Gopher/C4-style quality rule): " +
        "fraction of repeated 3-token grams as integer fixed-point; " +
        "docs over 30% repetition are dropped. Map-only — the gram " +
        "hashing runs in the native codegen expression, no shuffle.",
      Some(repetitionSql("documents")),
      (s, dir) =>
        graft.api.TextOps.repetitionFilter(
          Tables.documents(s, dir), "doc_id", "text")),

    QueryDef(
      "q50_sequence_packing",
      "Sequence packing for training: documents are concatenated in a " +
        "deterministic shuffled order (md5-hash key) and chunked into " +
        "2048-token bins — each doc's bin is its start offset div " +
        "budget, exactly the concat-then-chunk semantics of LLM data " +
        "prep. The global running sum is computed as a TWO-PHASE " +
        "prefix sum: per-bucket exclusive cumsum (partitioned window) " +
        "+ tiny triangular-join bucket offsets — the naive single " +
        "global-order window would funnel the whole corpus through " +
        "one task, the exact scale-killer PlanSpec forbids.",
      Some(s"""
WITH t AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
                  ${graft.functions.TextHashing.hash60Sql("doc_id::VARCHAR")} AS h
           FROM documents),
o AS (SELECT doc_id,
             COALESCE(sum(n_tok) OVER (ORDER BY h % 32, h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_tok
      FROM t)
SELECT doc_id, start_tok, start_tok // 2048 AS bin FROM o"""),
      (s, dir) =>
        graft.api.SampleOps.packSequences(
          Tables.documents(s, dir).select(col("doc_id"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tok")),
          "doc_id", "n_tok", budget = 2048L)),

    QueryDef(
      "q45_stratified_sample",
      "Deterministic stratified sampling for dataset mixing: documents " +
        "bucketed by length stratum (short/medium/long), each stratum " +
        "sampled at its own rate (10% / 50% / 100%) by md5-hash60 of " +
        "the doc id — reproducible across runs and engines, stable " +
        "under corpus growth (q41's hash-split guarantee, per stratum). " +
        "Map-only: stratum, hash, and the keep decision are all " +
        "projections; no shuffle, no rand().",
      Some(s"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
         ${graft.functions.TextHashing.hash60Sql("doc_id::VARCHAR")} % 1000 AS h
  FROM documents),
s AS (SELECT doc_id, h,
             CASE WHEN n_tok < 40 THEN 'short'
                  WHEN n_tok < 70 THEN 'medium' ELSE 'long' END AS stratum
      FROM t)
SELECT doc_id, stratum
FROM s
WHERE h < CASE stratum WHEN 'short' THEN 100 WHEN 'medium' THEN 500 ELSE 1000 END"""),
      (s, dir) => {
        val nTok = size(split(col("text"), " ", -1)).cast("long")
        graft.api.SampleOps.stratifiedSample(
          Tables.documents(s, dir)
            .select(col("doc_id"),
              when(nTok < 40, "short").when(nTok < 70, "medium")
                .otherwise("long").as("stratum")),
          "doc_id", "stratum",
          ratesX1000 = Map("short" -> 100, "medium" -> 500),
          defaultX1000 = 1000)
      }),

    QueryDef(
      "q52_pii_redaction",
      "PII scrub (the redaction pass every training corpus goes " +
        "through): emails → IPv4s → phone-like runs replaced with typed " +
        "placeholders, sequentially so the classes stay disjoint. The " +
        "corpus has no real PII, so both engines deterministically graft " +
        "synthetic contact lines onto each doc first; the oracle then " +
        "hash-compares md5(redacted) — byte-identical cross-engine " +
        "redaction, not just equal counts. Map-only, codegen'd regex.",
      Some(s"""
WITH p AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com or 10.0.' ||
         (doc_id % 256) || '.7 call +1 (555) 010-' ||
         lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t0
  FROM documents),
s1 AS (SELECT doc_id,
         len(regexp_extract_all(t0, '${graft.api.TextOps.EmailPattern}', 0))::BIGINT AS n_emails,
         regexp_replace(t0, '${graft.api.TextOps.EmailPattern}', '<EMAIL>', 'g') AS t1
       FROM p),
s2 AS (SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '${graft.api.TextOps.Ipv4Pattern}', 0))::BIGINT AS n_ips,
         regexp_replace(t1, '${graft.api.TextOps.Ipv4Pattern}', '<IP>', 'g') AS t2
       FROM s1),
s3 AS (SELECT doc_id, n_emails, n_ips,
         len(regexp_extract_all(t2, '${graft.api.TextOps.PhonePattern}', 0))::BIGINT AS n_phones,
         regexp_replace(t2, '${graft.api.TextOps.PhonePattern}', '<PHONE>', 'g') AS t3
       FROM s2)
SELECT doc_id, n_emails, n_ips, n_phones, md5(t3) AS red_sig
FROM s3"""),
      (s, dir) => {
        val withPii = Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 10.0."),
            (col("doc_id") % 256).cast("string"),
            lit(".7 call +1 (555) 010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
        graft.api.TextOps.redactPii(withPii, "doc_id", "text")
          .select(col("doc_id"), col("n_emails"), col("n_ips"),
            col("n_phones"), md5(col("redacted").cast("binary")).as("red_sig"))
      }),

    QueryDef(
      "q144_markup_strip",
      "Markup/boilerplate stripping (TextOps.stripMarkup) — the " +
        "HTML-to-text pass every crawled corpus goes through BEFORE " +
        "any quality or dedup stage (script/style payloads would " +
        "otherwise dominate shingles and quality ratios): " +
        "script/style blocks drop WITH their content ((?s) lazy " +
        "blocks — identical semantics in Java regex and DuckDB RE2), " +
        "remaining tags become spaces (tags must not weld adjacent " +
        "words), the five predefined entities decode (&amp; LAST so " +
        "&amp;lt; never double-decodes), whitespace collapses. The " +
        "corpus has no real markup, so both engines graft the same " +
        "deterministic HTML skeleton onto each doc first (the q52 " +
        "PII-injection discipline) and the oracle hash-compares " +
        "md5(clean) — byte-identical cross-engine extraction, not " +
        "just equal counts. Map-only, codegen'd regex.",
      Some(s"""
WITH p AS (
  SELECT doc_id,
         '<html><head><script type="text/javascript">var v' || doc_id ||
         ' = 1 < 2;</script><style>.c' || (doc_id % 7) ||
         ' {color: red}</style></head><body class="doc"><h1>Doc ' ||
         doc_id || '</h1><p>' || text || '</p> &amp; fish &lt;' ||
         (doc_id % 5) || '&gt;</body></html>' AS t0
  FROM documents),
s1 AS (SELECT doc_id,
         len(regexp_extract_all(t0, '${graft.api.TextOps.ScriptStylePattern}', 0))::BIGINT AS n_scripts,
         regexp_replace(t0, '${graft.api.TextOps.ScriptStylePattern}', ' ', 'g') AS t1
       FROM p),
s2 AS (SELECT doc_id, n_scripts,
         len(regexp_extract_all(t1, '${graft.api.TextOps.TagPattern}', 0))::BIGINT AS n_tags,
         regexp_replace(t1, '${graft.api.TextOps.TagPattern}', ' ', 'g') AS t2
       FROM s1),
s3 AS (SELECT doc_id, n_scripts, n_tags,
         len(regexp_extract_all(t2, '${graft.api.TextOps.EntityPattern}', 0))::BIGINT AS n_entities,
         replace(replace(replace(replace(replace(t2,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', chr(39)), '&amp;', '&') AS t3
       FROM s2)
SELECT doc_id, n_scripts, n_tags, n_entities,
       md5(trim(regexp_replace(t3, '[ \t\r\n]+', ' ', 'g'))) AS clean_sig
FROM s3"""),
      (s, dir) => {
        val marked = Tables.documents(s, dir).select(col("doc_id"),
          concat(
            lit("<html><head><script type=\"text/javascript\">var v"),
            col("doc_id").cast("string"), lit(" = 1 < 2;</script><style>.c"),
            (col("doc_id") % 7).cast("string"),
            lit(" {color: red}</style></head><body class=\"doc\"><h1>Doc "),
            col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
            lit("</p> &amp; fish &lt;"), (col("doc_id") % 5).cast("string"),
            lit("&gt;</body></html>")).as("text"))
        graft.api.TextOps.stripMarkup(marked, "doc_id", "text")
          .select(col("doc_id"), col("n_scripts"), col("n_tags"),
            col("n_entities"), md5(col("clean").cast("binary")).as("clean_sig"))
      }),

    QueryDef(
      "q145_link_extraction",
      "Crawl-frontier link extraction (TextOps.extractLinks): every " +
        "href in a doc's markup becomes one row with its within-doc " +
        "position and — for absolute http(s) URLs — its host " +
        "(relative links carry an empty host), the input of the q146 " +
        "frontier rollup / politeness budget and the q86 " +
        "URL-canonicalization pass. All three HTML quoting styles " +
        "extract — double-quoted, single-quoted, bare — with " +
        "ordinality stable across mixed quoting (the alternation " +
        "lives inside one capture group). The corpus has no real " +
        "anchors, so both engines graft the same five deterministic " +
        "anchors per doc (absolute x3 across quoting styles on " +
        "different hosts, relative single-quoted, bare relative — " +
        "the q52/q144 injection discipline) and the oracle replays " +
        "extraction, unquoting, ordinality, and host parsing " +
        "value-for-value. Map-only: extract + posexplode + unquote + " +
        "host projection, zero shuffles (the Generate stays in its " +
        "input partition).",
      Some(s"""
WITH p AS (
  SELECT doc_id, ${linkFixtureSqlExpr(withHub = false)} AS t0
  FROM documents),
l AS (SELECT doc_id,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.HrefPattern)}', 1) AS links
      FROM p),
e AS (SELECT doc_id, (g.i - 1)::BIGINT AS link_idx,
             regexp_replace(links[g.i],
               '${sqlQuoted(graft.api.TextOps.HrefUnquotePattern)}', '\\1\\2') AS href
      FROM l CROSS JOIN generate_series(1, 8) g(i)
      WHERE g.i <= len(links))
SELECT doc_id, link_idx, href,
       regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) AS host
FROM e"""),
      (s, dir) => {
        graft.api.TextOps.extractLinks(
          linkFixture(Tables.documents(s, dir)), "doc_id", "text")
      }),

    QueryDef(
      "q146_frontier_budget",
      "Frontier rollup + politeness budget (TextOps.frontierBudget) — " +
        "the consumer of q145's extraction that closes the crawl " +
        "front door end-to-end (strip -> extract -> rollup -> " +
        "budget): absolute links aggregate per (host, href) with " +
        "their in-link count, each host's URLs rank " +
        "most-referenced-first (ties by href), and the per-host fetch " +
        "budget (7) keeps only the first 7 — politeness: at most 7 " +
        "fetches per host per cycle. Kept URLs carry their host's " +
        "rollup (distinct URLs, total anchors, distinct referring " +
        "docs). The fixture grafts a SHARED hub anchor (doc_id mod 5 " +
        "per host — n_refs > 1, exercising the priority order) plus " +
        "unique per-doc anchors across all three quoting styles; the " +
        "oracle replays extraction, rollup, ranking, and the budget " +
        "cut exactly. Scale shape (PlanSpec-asserted): exactly ONE " +
        "host-keyed exchange on URL-sized rows — the explicit " +
        "repartition is the only shuffle; both aggregates, the rank " +
        "window, and the rollup join reuse its clustering, and the " +
        "output is budget-shaped (O(hosts x 7)), never " +
        "link-count-shaped. The unit-weight specialization of the " +
        "q50/q142 fill-to-budget discipline (fetches cost 1, so the " +
        "exclusive prefix sum IS rank-1).",
      Some(s"""
WITH p AS (
  SELECT doc_id, ${linkFixtureSqlExpr(withHub = true)} AS t0
  FROM documents),
l AS (SELECT doc_id,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.HrefPattern)}', 1) AS links
      FROM p),
e AS (SELECT doc_id,
             regexp_replace(links[g.i],
               '${sqlQuoted(graft.api.TextOps.HrefUnquotePattern)}', '\\1\\2') AS href
      FROM l CROSS JOIN generate_series(1, 8) g(i)
      WHERE g.i <= len(links)),
a AS (SELECT doc_id, href,
             regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) AS host
      FROM e
      WHERE regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) <> ''),
g AS (SELECT host, href, count(*)::BIGINT AS n_refs FROM a GROUP BY 1, 2),
h AS (SELECT host, count(DISTINCT href)::BIGINT AS host_urls,
             count(*)::BIGINT AS host_links,
             count(DISTINCT doc_id)::BIGINT AS host_docs
      FROM a GROUP BY 1),
r AS (SELECT host, href, n_refs,
             row_number() OVER (PARTITION BY host
               ORDER BY n_refs DESC, href)::BIGINT AS fetch_rank
      FROM g)
SELECT r.host, r.href, r.n_refs, r.fetch_rank,
       h.host_urls, h.host_links, h.host_docs
FROM r JOIN h USING (host)
WHERE r.fetch_rank <= 7"""),
      (s, dir) => {
        val marked = linkFixture(Tables.documents(s, dir), withHub = true)
        graft.api.TextOps.frontierBudget(
          graft.api.TextOps.extractLinks(marked, "doc_id", "text"),
          "doc_id", "host", "href", budgetPerHost = 7)
      }),

    QueryDef(
      "q147_frontier_discovery",
      "Incremental frontier discovery — the crawl loop's stateful " +
        "step, closing strip (q144) -> extract (q145) -> canonicalize " +
        "(q86) -> discover-new (this) -> budget (q146) end-to-end: " +
        "the DELTA batch's extracted links canonicalize " +
        "(TextOps.canonicalUrl) and anti-join the CORPUS's canonical " +
        "link set (the visited set — at 100 TB a persisted frontier " +
        "table probed per ingest, the q59 posture), and only genuinely " +
        "NEW URLs reach the politeness budget (frontierBudget, 5 per " +
        "host). Canonical equivalence does the suppression work: " +
        "every raw hub anchor differs (uppercase scheme/host, per-doc " +
        "utm param, fragment), so a drifted canonicalizer floods the " +
        "frontier with re-crawls of already-visited URLs — the oracle " +
        "replays extraction, the full canonicalization chain (the " +
        "SHARED q86 CTE generator), the anti-join, and the budget cut " +
        "exactly. Physically: map-only extract+canonicalize on both " +
        "sides, one distinct on the visited set, one anti-join keyed " +
        "on canonical URL (URL-sized rows, broadcastable when the " +
        "delta's candidate set is small), then q146's one host-keyed " +
        "exchange.",
      Some(s"""
WITH p AS (
  SELECT doc_id, $discoveryFixtureSqlExpr AS t0
  FROM documents),
l AS (SELECT doc_id,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.HrefPattern)}', 1) AS links
      FROM p),
e AS (SELECT doc_id,
             regexp_replace(links[g.i],
               '${sqlQuoted(graft.api.TextOps.HrefUnquotePattern)}', '\\1\\2') AS href
      FROM l CROSS JOIN generate_series(1, 4) g(i)
      WHERE g.i <= len(links)),
u AS (SELECT doc_id, href AS url FROM e
      WHERE regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) <> ''),
$urlCanonCtes,
seen AS (SELECT DISTINCT canonical_url FROM canon WHERE doc_id % 5 <> 0),
fresh AS (SELECT c.doc_id, c.canonical_url AS href,
                 regexp_extract(c.canonical_url,
                   '${graft.api.TextOps.HostPattern}', 1) AS host
          FROM canon c
          WHERE c.doc_id % 5 = 0
            AND c.canonical_url NOT IN (SELECT canonical_url FROM seen)),
g AS (SELECT host, href, count(*)::BIGINT AS n_refs FROM fresh GROUP BY 1, 2),
h AS (SELECT host, count(DISTINCT href)::BIGINT AS host_urls,
             count(*)::BIGINT AS host_links,
             count(DISTINCT doc_id)::BIGINT AS host_docs
      FROM fresh GROUP BY 1),
r AS (SELECT host, href, n_refs,
             row_number() OVER (PARTITION BY host
               ORDER BY n_refs DESC, href)::BIGINT AS fetch_rank
      FROM g)
SELECT r.host, r.href, r.n_refs, r.fetch_rank,
       h.host_urls, h.host_links, h.host_docs
FROM r JOIN h USING (host)
WHERE r.fetch_rank <= 5"""),
      (s, dir) => {
        val links = graft.api.TextOps.extractLinks(
            discoveryFixture(Tables.documents(s, dir)), "doc_id", "text")
          .filter(col("host") =!= "")
          .select(col("doc_id"),
            graft.api.TextOps.canonicalUrl(col("href")).as("curl"))
        val seen = links.filter(col("doc_id") % 5 =!= 0)
          .select(col("curl")).distinct()
        val fresh = links.filter(col("doc_id") % 5 === 0)
          .join(seen, Seq("curl"), "left_anti")
          .select(col("doc_id"),
            regexp_extract(col("curl"),
              graft.api.TextOps.HostPattern, 1).as("host"),
            col("curl").as("href"))
        graft.api.TextOps.frontierBudget(fresh, "doc_id", "host", "href",
          budgetPerHost = 5)
      }),

    QueryDef(
      "q148_robots_filter",
      "Robots-exclusion filtering (TextOps.robotsFilter) — the " +
        "compliance step between frontier discovery and the fetch " +
        "queue, with the robots REP longest-match semantics: per URL, " +
        "the LONGEST rule prefix matching its path decides, an Allow " +
        "and a Disallow of equal length resolve to ALLOW, and " +
        "unmatched URLs (including relative links, which carry no " +
        "host) are allowed. One verdict row per input link, nothing " +
        "dropped — a crawler's compliance layer must be auditable. " +
        "The rules fixture exercises every branch: a blanket /hub/ " +
        "Disallow on all 9 hosts with an equal-length Allow on even " +
        "hosts (the tie), a /p/ Disallow on every 3rd host with a " +
        "LONGER /p/1 Allow carve-out (longest-match override — ids " +
        "starting with 1 stay fetchable), and unruled hosts. Rules " +
        "broadcast (tiny by nature); the rank window partitions per " +
        "URL, so no host-level skew point exists. The oracle replays " +
        "extraction, matching, the longest-match rank, and both " +
        "coalesces exactly.",
      Some(s"""
WITH p AS (
  SELECT doc_id, ${linkFixtureSqlExpr(withHub = true)} AS t0
  FROM documents),
l AS (SELECT doc_id,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.HrefPattern)}', 1) AS links
      FROM p),
e AS (SELECT doc_id,
             regexp_replace(links[g.i],
               '${sqlQuoted(graft.api.TextOps.HrefUnquotePattern)}', '\\1\\2') AS href
      FROM l CROSS JOIN generate_series(1, 8) g(i)
      WHERE g.i <= len(links)),
u AS (SELECT doc_id, href,
             regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) AS h,
             regexp_replace(href, '^https?://[^/]+', '') AS pth
      FROM e),
rules AS (
  SELECT 'ex' || k || '.org' AS rh, '/hub/' AS prefix, false AS allow
  FROM range(9) t(k)
  UNION ALL
  SELECT 'ex' || k || '.org', '/hub/', true FROM range(9) t(k) WHERE k % 2 = 0
  UNION ALL
  SELECT 'ex' || k || '.org', '/p/', false FROM range(9) t(k) WHERE k % 3 = 0
  UNION ALL
  SELECT 'ex' || k || '.org', '/p/1', true FROM range(9) t(k) WHERE k % 3 = 0),
m AS (SELECT doc_id, href, allow, prefix,
             row_number() OVER (PARTITION BY doc_id, href
               ORDER BY len(prefix) DESC, allow DESC, prefix) AS rn
      FROM u JOIN rules ON u.h = rules.rh AND starts_with(pth, prefix)
      WHERE u.h <> '')
SELECT u.doc_id, u.href,
       COALESCE(m.allow, true) AS allowed,
       COALESCE(m.prefix, '') AS matched_prefix
FROM u LEFT JOIN (SELECT doc_id, href, allow, prefix FROM m WHERE rn = 1) m
  USING (doc_id, href)"""),
      (s, dir) => {
        val ks = s.range(9).select(col("id").as("k"),
          concat(lit("ex"), col("id").cast("string"), lit(".org")).as("host"))
        def rule(f: org.apache.spark.sql.DataFrame, prefix: String,
            allow: Boolean) = f.select(col("host"),
          lit(prefix).as("prefix"), lit(allow).as("allow"))
        val rules = rule(ks, "/hub/", allow = false)
          .unionByName(rule(ks.filter(col("k") % 2 === 0), "/hub/",
            allow = true))
          .unionByName(rule(ks.filter(col("k") % 3 === 0), "/p/",
            allow = false))
          .unionByName(rule(ks.filter(col("k") % 3 === 0), "/p/1",
            allow = true))
        graft.api.TextOps.robotsFilter(
          graft.api.TextOps.extractLinks(
            linkFixture(Tables.documents(s, dir), withHub = true),
            "doc_id", "text"),
          "doc_id", "href", rules)
      }),

    QueryDef(
      "q60_mixture_resample",
      "Data mixing to target proportions (SampleOps.mixtureResample): " +
        "rebalance the corpus so per-source sizes follow target weights " +
        "(weight = source-number mod 3 + 1), keeping the largest " +
        "id-hash-selected subsample that satisfies the mixture — the " +
        "binding stratum keeps ~everything, the rest downsample to " +
        "match. Integer per-mille rates end-to-end, so the kept set is " +
        "engine-exact. Physically: tiny count-by-source agg, 1-row " +
        "global min, broadcast rate join — the corpus never shuffles.",
      Some(s"""
WITH c AS (SELECT source, count(*) AS c,
                  (replace(source, 'src', '')::BIGINT % 3) + 1 AS w
           FROM documents GROUP BY 1),
k AS (SELECT min(c * 1000 // w) AS k1000 FROM c),
r AS (SELECT source, (k1000 * w) // c AS rate FROM c, k)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE ${graft.functions.TextHashing.hash60Sql("d.doc_id::VARCHAR")} % 1000 < rate"""),
      (s, dir) =>
        graft.api.SampleOps.mixtureResample(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "doc_id", "source",
          expr("cast(replace(source, 'src', '') as bigint) % 3 + 1"))),

    QueryDef(
      "q142_token_budget_mixture",
      "Data mixing in the unit production mixtures are specified in " +
        "(SampleOps.tokenBudgetSample): per-source TOKEN budgets " +
        "(budget = (source-number mod 3 + 1) x 2000 tokens), not doc " +
        "counts — q60's doc-proportional mixture over-weights " +
        "long-doc sources, and q125's fertility report exists " +
        "precisely because budgets are token-denominated. Within " +
        "each source, docs take the deterministic md5-hash shuffle " +
        "order and keep while the tokens BEFORE them are under " +
        "budget (fill-to-budget: the crossing doc is kept, overshoot " +
        "bounded by one doc). The per-source running sum is q50's " +
        "TWO-PHASE prefix sum per stratum — per-(source, hash-bucket) " +
        "windows + triangular bucket offsets, so no source-wide " +
        "window funnels a whole source through one task and output " +
        "size is BUDGET-shaped, not corpus-shaped (the property that " +
        "makes the op usable at 100 TB: the kept set stops growing " +
        "when the corpus does). The oracle replays hash order, " +
        "prefix sums, and the budget cut exactly.",
      Some(s"""
WITH t AS (SELECT doc_id, source,
                  len(string_split(text, ' '))::BIGINT AS n_tok,
                  ${graft.functions.TextHashing.hash60Sql("doc_id::VARCHAR")} AS h
           FROM documents),
o AS (SELECT doc_id, source, n_tok,
             COALESCE(sum(n_tok) OVER (PARTITION BY source
               ORDER BY h % 32, h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS tok_before
      FROM t)
SELECT doc_id, source, n_tok, tok_before
FROM o
WHERE tok_before < ((replace(source, 'src', '')::BIGINT % 3) + 1) * 2000"""),
      (s, dir) =>
        graft.api.SampleOps.tokenBudgetSample(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tok")),
          "doc_id", "source", "n_tok",
          expr("(cast(replace(source, 'src', '') as bigint) % 3 + 1) * 2000"))),

    QueryDef(
      "q55_priority_sample",
      "Deterministic uniform k-sample (SampleOps.prioritySample): the " +
        "100 docs with the smallest md5-hash60(doc_id), ties by id. " +
        "Reproducible across runs/engines (no rand()) and incrementally " +
        "stable under corpus growth. Physically TakeOrderedAndProject " +
        "(PlanSpec-asserted): per-partition local top-k then a k-row " +
        "driver merge — no global sort exists at any scale.",
      Some(s"""
SELECT doc_id, source
FROM documents
ORDER BY ${graft.functions.TextHashing.hash60Sql("doc_id::VARCHAR")}, doc_id
LIMIT 100"""),
      (s, dir) =>
        graft.api.SampleOps.prioritySample(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "doc_id", 100)),

    QueryDef(
      "q84_per_source_cap",
      "Per-source document cap (SampleOps.capPerKey): keep at most 10 " +
        "docs per source, selected by the deterministic id-hash " +
        "priority within each source - the domain-balancing pass of a " +
        "crawl pipeline (no single domain dominates the mix), run " +
        "after dedup and before q60's mixture weighting. Reproducible " +
        "and incrementally stable, never rand(). ONE window " +
        "PARTITIONED by source; WindowGroupLimit prunes each task to " +
        "its local top-10 before the exchange, so the shuffle carries " +
        "O(sources x cap), not the corpus.",
      Some(s"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
           ORDER BY ${graft.functions.TextHashing.hash60Sql("doc_id::VARCHAR")}, doc_id) AS rn
  FROM documents) WHERE rn <= 10"""),
      (s, dir) =>
        graft.api.SampleOps.capPerKey(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "doc_id", "source", cap = 10)),

    QueryDef(
      "q86_url_canonical_dedup",
      "URL canonicalization + URL-level dedup (TextOps.canonicalUrl / " +
        "urlDuplicates): the crawl front door UPSTREAM of text dedup - " +
        "scheme/host lowercase, userinfo strip, default-port drop, " +
        "fragment strip, tracking-param removal (utm_*/fbclid/gclid, " +
        "delimiters repaired), trailing-slash trim - then exact dedup " +
        "by canonical form. The documents table carries no URL column, " +
        "so the fixture derives one deterministic URL per doc from " +
        "doc_id via ONE SQL generator emitted into BOTH engines " +
        "(case/port/userinfo/tracking/fragment variants by doc_id, " +
        "canonical identity by doc_id div 3 - every 3-doc group " +
        "collapses to one canonical URL). Map-only canonicalization " +
        "(codegen'd regex chain, no UDF); only (canonical, id) " +
        "shuffles - the q15 digest-groupBy shape on the frontier.",
      Some(urlDedupSql("documents")),
      (s, dir) =>
        graft.api.TextOps.urlDuplicates(
          Tables.documents(s, dir)
            .select(col("doc_id"),
              expr(urlFixtureSql("string", "div")).as("url")),
          "doc_id", "url")),

    QueryDef(
      "q88_bigram_lm_quality",
      "Quantized bigram LM quality filter (TextOps.bigramLmScore; the " +
        "CCNet/KenLM perplexity filter with exact integer arithmetic): " +
        "an add-V-smoothed bigram LM trained on the corpus itself " +
        "scores each doc by sum over its bigram occurrences of " +
        "floor(log2(c2+1)) - floor(log2(c1+V)) — whole-bit log-probs " +
        "via length(bin(n))-1, so the score hashes identically " +
        "cross-engine where float log sums would not. keep = avg " +
        "quantized log-prob >= -4.6 (tuned to the corpus's score " +
        "band; drops the ~11% least-predictable docs), compared " +
        "by cross-multiplication. The per-doc bigram rollup is " +
        "map-only (sorted-array run-length encode inside HOFs — no " +
        "raw-occurrence shuffle, no hot-bigram reducer), c2 keeps " +
        "its map-side combine, c1 broadcasts off c2, V is a one-row " +
        "broadcast, and short docs union in — the one corpus-scale " +
        "exchange is the planner-inserted model join, AQE-skew-" +
        "splittable.",
      Some(bigramKeepSql("documents")),
      (s, dir) =>
        graft.api.TextOps.bigramLmScore(
          Tables.documents(s, dir), "doc_id", "text",
          keepAvgQx1000 = -4600L)),

    QueryDef(
      "q91_lm_score_against_model",
      "Train-once / score-deltas bigram-LM quality (TextOps." +
        "bigramLmModel + bigramLmScoreAgainst): the CCNet deployment " +
        "posture — the LM trains on a REFERENCE corpus (the 80% " +
        "doc_id % 5 <> 0 slice) and every ingest batch (the 20% " +
        "delta) is scored against that persisted vocabulary-sized " +
        "model; out-of-vocabulary bigrams take c2=0 and unseen heads " +
        "c1=0 (add-V smoothing extended off the training set). The " +
        "model-space twin of the q59 persisted-index probe: at 100TB " +
        "the model is parquet built once per corpus version, and a " +
        "delta pays only its own map-only bigram_counts rollup plus " +
        "vocabulary-sized joins. keep = avg quantized log-prob >= " +
        "-5.0 bits (looser than self-trained q88's -4.6: OOV mass " +
        "shifts delta scores down; -5.0 sits at the delta's ~5th " +
        "percentile, so the gate drops the least-predictable tail).",
      Some(s"""
WITH ctoks AS (SELECT doc_id, string_split(text, ' ') AS tk
               FROM documents WHERE doc_id % 5 <> 0),
cbi AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
              FROM ctoks WHERE len(tk) >= 2)),
cdb AS (SELECT w1, w2, count(*) AS c2 FROM cbi GROUP BY 1, 2),
cc1 AS (SELECT w1, count(*) AS c1 FROM cbi GROUP BY 1),
vv AS (SELECT count(DISTINCT w) AS v
       FROM (SELECT unnest(tk) AS w FROM ctoks)),
dtoks AS (SELECT doc_id, string_split(text, ' ') AS tk
          FROM documents WHERE doc_id % 5 = 0),
dbi AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
        FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
              FROM dtoks WHERE len(tk) >= 2)),
ddb AS (SELECT doc_id, w1, w2, count(*) AS n FROM dbi GROUP BY 1, 2, 3),
sc AS (SELECT doc_id,
              sum(n * ((len(bin(coalesce(c2, 0) + 1)) - 1) -
                       (len(bin(coalesce(c1, 0) + v)) - 1)))::BIGINT AS sum_q2,
              sum(n)::BIGINT AS n_bigrams
       FROM ddb LEFT JOIN cdb USING (w1, w2)
                LEFT JOIN cc1 USING (w1)
                CROSS JOIN vv
       GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(sc.sum_q2, 0)::BIGINT AS sum_q2,
       (coalesce(sc.n_bigrams, 0) = 0 OR
        coalesce(sc.sum_q2, 0) * 1000 >= -5000 * coalesce(sc.n_bigrams, 0)) AS keep
FROM dtoks d LEFT JOIN sc ON d.doc_id = sc.doc_id"""),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // the model is MATERIALIZED before scoring (localCheckpoint =
        // the in-process stand-in for the persisted parquet of the
        // real deployment): the score plan reads it three ways
        // (bigram counts, head counts, vocabulary), and a lazy model
        // frame would re-derive the whole training subtree for each
        val model = graft.api.TextOps.bigramLmModel(
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
          .localCheckpoint()
        graft.api.TextOps.bigramLmScoreAgainst(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          model, keepAvgQx1000 = -5000L)
      }),

    QueryDef(
      "q93_dsir_importance",
      "DSIR-style importance resampling (Xie et al. 2023, 'Data " +
        "Selection for Language Models via Importance Resampling'): " +
        "per-doc importance weight = log-likelihood RATIO between a " +
        "TARGET-domain bigram LM (trained on the src1 slice) and the " +
        "RAW-corpus LM — both the q91 quantized integer models, so " +
        "ratio_x = sum_q2_target - sum_q2_raw is exact cross-engine; " +
        "keep = docs at or above the 75th percentile of ratio over " +
        "scoreable docs (exact interpolated percentile, floor'd to " +
        "int64 — the q77 percentile-equivalence precedent), plus " +
        "0-bigram docs (no signal, same convention as q88/q91). The " +
        "scale shape is q91's twice: two vocabulary-sized persisted " +
        "models, the corpus pays ONE map-only bigram_counts rollup " +
        "per scoring pass, and the percentile is a 1-row broadcast.",
      Some(s"""
WITH ttoks AS (SELECT doc_id, string_split(text, ' ') AS tk
               FROM documents WHERE source = 'src1'),
tbi AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
              FROM ttoks WHERE len(tk) >= 2)),
tc2 AS (SELECT w1, w2, count(*) AS c2 FROM tbi GROUP BY 1, 2),
tc1 AS (SELECT w1, count(*) AS c1 FROM tbi GROUP BY 1),
tvv AS (SELECT count(DISTINCT w) AS v
        FROM (SELECT unnest(tk) AS w FROM ttoks)),
rtoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
rbi AS (SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
              FROM rtoks WHERE len(tk) >= 2)),
rc2 AS (SELECT w1, w2, count(*) AS c2 FROM rbi GROUP BY 1, 2),
rc1 AS (SELECT w1, count(*) AS c1 FROM rbi GROUP BY 1),
rvv AS (SELECT count(DISTINCT w) AS v
        FROM (SELECT unnest(tk) AS w FROM rtoks)),
dd AS (SELECT doc_id, w1, w2, count(*) AS n
       FROM (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
             FROM (SELECT doc_id, tk,
                          unnest(generate_series(1, len(tk) - 1)) AS i
                   FROM rtoks WHERE len(tk) >= 2))
       GROUP BY 1, 2, 3),
sct AS (SELECT doc_id,
               sum(n * ((len(bin(coalesce(tc2.c2, 0) + 1)) - 1) -
                        (len(bin(coalesce(tc1.c1, 0) + tvv.v)) - 1)))::BIGINT AS qt,
               sum(n)::BIGINT AS n_bigrams
        FROM dd LEFT JOIN tc2 USING (w1, w2)
                LEFT JOIN tc1 USING (w1)
                CROSS JOIN tvv
        GROUP BY doc_id),
scr AS (SELECT doc_id,
               sum(n * ((len(bin(coalesce(rc2.c2, 0) + 1)) - 1) -
                        (len(bin(coalesce(rc1.c1, 0) + rvv.v)) - 1)))::BIGINT AS qr
        FROM dd LEFT JOIN rc2 USING (w1, w2)
                LEFT JOIN rc1 USING (w1)
                CROSS JOIN rvv
        GROUP BY doc_id),
rat AS (SELECT d.doc_id,
               coalesce(sct.n_bigrams, 0)::BIGINT AS n_bigrams,
               (coalesce(sct.qt, 0) - coalesce(scr.qr, 0))::BIGINT AS ratio_x
        FROM documents d
        LEFT JOIN sct ON d.doc_id = sct.doc_id
        LEFT JOIN scr ON d.doc_id = scr.doc_id),
thr AS (SELECT floor(quantile_cont(ratio_x, 0.75))::BIGINT AS p75
        FROM rat WHERE n_bigrams > 0)
SELECT doc_id, n_bigrams, ratio_x,
       (n_bigrams = 0 OR ratio_x >= p75) AS keep
FROM rat CROSS JOIN thr"""),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val mT = graft.api.TextOps.bigramLmModel(
          docs.filter(col("source") === "src1"), "doc_id", "text")
          .localCheckpoint()
        val mR = graft.api.TextOps.bigramLmModel(docs, "doc_id", "text")
          .localCheckpoint()
        // ONE corpus tokenize + rollup scores against BOTH models
        // (TextOps.bigramLmScoreAgainstPair — round 17, guide §2.4):
        // the former two bigramLmScoreAgainst passes each paid their
        // own bigram rollup, (w1,w2) exchange and per-doc aggregation,
        // then joined on doc_id; the pair scorer is value-identical
        // with half the corpus-side work and no doc-level join.
        // rat is consumed TWICE (the percentile broadcast AND the
        // final projection) — without a checkpoint the whole scoring
        // subtree executes twice per run. rat is doc-count-sized
        // (3 longs a row), so materializing it costs nothing next to
        // recomputing the scoring pass; the r11 bench watch-item's
        // extra second was exactly this double execution.
        val rat = graft.api.TextOps.bigramLmScoreAgainstPair(
            docs, "doc_id", "text", mT, mR)
          .select(col("doc_id"), col("n_bigrams"),
            (col("sum_q2_a") - col("sum_q2_b")).as("ratio_x"))
          .localCheckpoint()
        val thr = rat.filter(col("n_bigrams") > 0)
          .agg(floor(expr("percentile(ratio_x, 0.75)")).cast("long")
            .as("_p75"))
        rat.crossJoin(broadcast(thr))
          .select(col("doc_id"), col("n_bigrams"), col("ratio_x"),
            (col("n_bigrams") === 0 || col("ratio_x") >= col("_p75"))
              .as("keep"))
      }),

    QueryDef(
      "q95_bpe_vocab_induction",
      "Byte-pair-encoding tokenizer training (Sennrich et al., 2016) " +
        "as a Spark program: ONE corpus pass builds the (word, cnt) " +
        "frequency table, then every merge iteration runs over the " +
        "VOCABULARY frame only — pair-explode, partial-agg'd count, " +
        "a 1-row driver argmax (the model update, the KMeans-iteration " +
        "action pattern), map-only merge application. 12 merges; " +
        "deterministic tie-break (count DESC, left ASC, right ASC); " +
        "merge application is replace(' l r ' -> ' lr ') with " +
        "identical left-to-right non-overlap semantics in both " +
        "engines (BpeOps Scaladoc documents the repeated-symbol-run " +
        "delta vs greedy rescan). The oracle UNROLLS the same chain " +
        "step by step in SQL, so the learned merge table is " +
        "hash-identical by construction — an exact oracle for an " +
        "iterative trained model.",
      Some(graft.api.BpeOps.oracleSql("documents", "text", 12)),
      (s, dir) =>
        graft.api.BpeOps.trainTable(
          s, Tables.documents(s, dir), "text", nMerges = 12,
          corpusKey = Some(dir))),

    QueryDef(
      "q98_bpe_tokenize",
      "Corpus tokenization with the q95-learned BPE merges " +
        "(BpeOps.tokenCounts): per-doc BPE token counts — the number " +
        "that drives packing (q50), mixture budgets (q60) and " +
        "training-cost estimates, computed with the REAL tokenizer " +
        "rather than the whitespace proxy. The merge replaces run " +
        "once per DISTINCT word (the vocabulary frame), never per " +
        "corpus occurrence — with a production-sized rule list the " +
        "replace chain is the expensive part and |V| is orders of " +
        "magnitude below the occurrence count; the corpus pays one " +
        "word explode and one word-keyed join (distinct and join " +
        "co-partition on the same key), then the per-doc rollup. " +
        "The oracle re-trains the identical chain in SQL (the ONE " +
        "shared generator with q95) and applies the final per-word " +
        "segmentation the same vocabulary-level way — an exact " +
        "end-to-end train-then-apply hash check. The merge list comes " +
        "from the session model cache (BpeOps.trainCached — the " +
        "SharedStages discipline for a driver-side model): q95 owns " +
        "the honest training cost, q98 reuses the learned merges.",
      Some(graft.api.BpeOps.tokenOracleSql(
        "documents", "doc_id", "text", 12)),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.api.BpeOps.trainCached(dir, docs, "text",
          nMerges = 12)
        graft.api.BpeOps.tokenCounts(docs, "doc_id", "text", merges)
      }),

    QueryDef(
      "q101_text_embedding",
      "Model-free feature-hashing text embedding (the hashing trick, " +
        "Weinberger et al. 2009; TextOps.embedText): every token " +
        "lands in dim hash60(token) % 64 with a sign from an " +
        "independent hash bit, signed counts L2-normalized — the " +
        "bridge that lets the WHOLE vector stack (cosine ANN, banded " +
        "LSH, PQ/IVF-PQ, SemDeDup keepers) run on a raw TEXT corpus " +
        "with no external encoder: near-dup texts share tokens, so " +
        "they embed near-parallel. Integer signed counts are exact " +
        "and order-independent; the one float step (x/√Σx²) is a " +
        "single IEEE op per dim, so this catalog projection — the " +
        "non-zero dims quantized to micro units (the q53 floor " +
        "precedent; SAME op order both engines: divide once, then " +
        "multiply — a (1e6·c)/√n2 spelling has one fewer rounding " +
        "and can floor to the adjacent integer) — hash-matches " +
        "DuckDB EXACTLY: a trained-free " +
        "embedding with a full value-level oracle, not an invariant " +
        "one. Two map-side-collapsing exchanges; corpus scanned once.",
      Some(s"""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
h AS (SELECT doc_id, ${graft.functions.TextHashing.hash60Sql("w")} AS h FROM t WHERE w <> ''),
c AS (SELECT doc_id, h % 64 AS dim,
             sum(CASE WHEN (h // 4294967296) % 2 = 0 THEN 1
                      ELSE -1 END)::BIGINT AS c
      FROM h GROUP BY 1, 2),
n AS (SELECT doc_id, sum(c * c)::BIGINT AS n2 FROM c GROUP BY 1)
SELECT c.doc_id, c.dim, floor((c.c / sqrt(n.n2)) * 1000000.0)::BIGINT AS v_x1m
FROM c JOIN n ON c.doc_id = n.doc_id
WHERE c.c <> 0 AND n.n2 > 0"""),
      (s, dir) => {
        val emb = graft.api.TextOps.embedText(
          Tables.documents(s, dir), "doc_id", "text", d = 64)
        emb.select(col("doc_id"),
            posexplode(col("v")).as(Seq("dim", "_x")))
          .filter(col("_x") =!= 0.0d)
          .select(col("doc_id"), col("dim").cast("long").as("dim"),
            floor(col("_x") * lit(1000000.0d)).cast("long").as("v_x1m"))
      })
  ,

    QueryDef(
      "q109_epoch_order",
      "Deterministic curriculum epoch ordering (SampleOps.epochOrder): " +
        "every doc gets a GLOBAL 0-based training position - quality " +
        "tiers strictly ordered (q17's high/medium/low as tiers " +
        "0/1/2: clean data first), seeded hash shuffle within a tier " +
        "(seed 'epoch1'; a new seed per epoch reshuffles " +
        "deterministically, the same seed replays exactly - the " +
        "property that makes a run resumable), ties to the smaller " +
        "id. The global position is a TWO-PHASE prefix count " +
        "(per-(tier,bucket) rank + triangular offsets - the q50 " +
        "packing discipline), so no global-order window exists at " +
        "any corpus size; the order key is (tier, h mod B, h, id) - " +
        "bucket-major so the prefix decomposes exactly - and the " +
        "oracle's single-node row_number spells the same total " +
        "order declaratively.",
      Some(s"""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
         ${occSql("text", " the ")} AS n_stop
  FROM documents),
tier AS (
  SELECT doc_id,
         CASE WHEN n_tok >= 40 AND (n_stop * 1000) // n_tok >= 20 THEN 0
              WHEN n_tok >= 15 THEN 1 ELSE 2 END AS tier
  FROM t),
h AS (SELECT doc_id, tier,
             ${graft.functions.TextHashing.hash60Sql("'epoch1:' || doc_id")} AS hh
      FROM tier)
SELECT doc_id, tier,
       (row_number() OVER (ORDER BY tier, hh % 32, hh, doc_id) - 1)::BIGINT
         AS pos
FROM h"""),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val tiers = graft.api.TextOps.qualityScore(docs, "doc_id", "text")
          .select(col("doc_id"),
            when(col("quality") === "high", lit(0L))
              .when(col("quality") === "medium", lit(1L))
              .otherwise(lit(2L)).as("tier"))
        graft.api.SampleOps.epochOrder(tiers, "doc_id", "tier", "epoch1")
      })
  ,

    QueryDef(
      "q108_bm25_retrieval",
      "Quantized-integer BM25 top-10 retrieval (TextOps.bm25TopK; " +
        "Robertson/Sparck Jones — the ranked keyword search of a " +
        "curation/eval stack): query docs (doc_id % 100 = 0) retrieve " +
        "their most-relevant corpus docs, self-matches excluded. " +
        "idf = log2((N+1)/df) in EXACT milli-bit fixed point " +
        "(floor-log2 via length(bin()) plus linear octave " +
        "interpolation — all int64, both engines; whole-bit idf " +
        "collapses to 0 on a shared vocabulary), tf saturation with " +
        "k1=1.2 b=0.75 in parts-per-thousand with single floored " +
        "divisions. One (doc,term) exchange with map-side tf combine, " +
        "vocabulary-sized df rollup, query terms broadcast, (qid,doc) " +
        "rollup with partial agg, WindowGroupLimit-prunable rank.",
      Some(s"""
WITH $bm25RankCte
SELECT qid, rank::BIGINT AS rank, doc_id, score FROM r WHERE rank <= 10"""),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.api.TextOps.bm25TopK(docs,
          docs.filter(col("doc_id") % 100 === 0)
            .select(col("doc_id").as("qid"), col("text")),
          "doc_id", "text", "qid", k = 10)
      })
  ,

    QueryDef(
      "q112_hybrid_retrieval",
      "Hybrid retrieval (TextOps.hybridTopK) — the RAG-stack standard: " +
        "reciprocal-rank fusion (Cormack et al. 2009) of q108's " +
        "lexical BM25 top-10 and a semantic top-10 over q101's " +
        "model-free hash embeddings, rrf = sum over lists of " +
        "1000000 div (60 + rank), final rank by (rrf DESC, id ASC). " +
        "Every ranking key is an integer (milli-bit BM25 scores; " +
        "FLOORED micro-cosine of unit embedText vectors — one " +
        "left-to-right dot fold, the q101/q102 hash-exact precedent), " +
        "so a full value-level oracle covers the fused ranking " +
        "end-to-end. Zero-signal vectors sit out the semantic leg in " +
        "both engines; a signal-less query keeps its BM25 leg. The " +
        "oracle reuses q108's BM25 chain and q102's embedding chain " +
        "VERBATIM (shared generators). Scale: BM25 leg = the " +
        "contribution-index plan; semantic leg = broadcast-query " +
        "brute scan (swap in the IVF-PQ probe at corpus scale — RRF " +
        "only consumes (qid, id, rank), so the fusion is " +
        "retriever-agnostic); fusion is one (qid,id) exchange over " +
        "2k rows/query.",
      Some(s"""
WITH $bm25RankCte,
${DedupQueries.textEmbeddingBandsCte},
sem AS (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sim DESC, nid ASC) AS sr
  FROM (SELECT a.vec_id AS qid, b.vec_id AS nid,
               floor(list_dot_product(a.v, b.v) * 1000000.0)::BIGINT AS sim
        FROM e a JOIN e b ON a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id)),
fused AS (
  SELECT qid, id, sum(1000000 // (60 + rr))::BIGINT AS rrf
  FROM (SELECT qid, doc_id AS id, rank AS rr FROM r WHERE rank <= 10
        UNION ALL
        SELECT qid, nid, sr FROM sem WHERE sr <= 10)
  GROUP BY 1, 2)
SELECT qid, rank, doc_id, rrf FROM (
  SELECT qid,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rrf DESC, id ASC)::BIGINT AS rank,
         id AS doc_id, rrf
  FROM fused) WHERE rank <= 10"""),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.api.TextOps.hybridTopK(docs,
          docs.filter(col("doc_id") % 100 === 0)
            .select(col("doc_id").as("qid"), col("text")),
          "doc_id", "text", "qid", k = 10)
      })
  ,

    QueryDef(
      "q114_hybrid_retrieval_ivfpq",
      "q112's hybrid retrieval with the semantic leg at its 100-TB " +
        "shape (TextOps.hybridTopKIvfPq): instead of the brute " +
        "broadcast corpus scan, queries probe a PERSISTED IVF-PQ " +
        "index over the corpus's hash embeddings (built once per " +
        "corpus version, session-cached — the q99 deployment) with " +
        "nprobe=3/8 cell routing and 16-byte ADC scans inside only " +
        "the routed partition directories; candidates rank by " +
        "ADC-approximate cosine, and the fusion is the SHARED rrfFuse " +
        "(RRF consumes only ranks, so the retriever swap cannot " +
        "change fusion semantics). ADC ranks are approximate, so the " +
        "oracle is the q99 in-band posture: per query, the fused " +
        "output must be rank-dense, size-match the brute fused " +
        "output (read from the SHARED materialized brute stage — " +
        "q112 owns the honest end-to-end cost, the oracle leg only " +
        "needs the rows), and overlap it on at least 3 of 10 rows — the q99 " +
        "floor verbatim (measured 4-10/10 across sf0.001/0.01/0.1; " +
        "nprobe=3/8 forfeits cross-cell neighbors by design, and any " +
        "broken routing, encoding, or pruning collapses the overlap). PlanSpec pins the " +
        "absence of any nested-loop join against the corpus — the " +
        "exact plan property that makes this the scale-side leg.",
      Some("""
SELECT doc_id AS qid, true AS n_ok, true AS rn_dense, true AS overlap_ok
FROM documents WHERE doc_id % 100 = 0"""),
      (s, dir) => overlapOracle(hybridIvfPqCounts(s, dir),
        AnnFloors.floor(s, "q114_hybrid_retrieval_ivfpq", dir))),

    QueryDef(
      "q124_token_entropy",
      "Per-doc unigram token entropy in EXACT milli-bit fixed point " +
        "(TextOps.tokenEntropy) — the distributional quality filter " +
        "the ratio heuristics (q17) and duplicate-gram fraction (q44) " +
        "miss: keyword stuffing and boilerplate loops cycle a small " +
        "vocabulary, so their entropy collapses even when no single " +
        "gram repeats enough to trip q44. H = sum(c*lg(L,c)) div L " +
        "with q108's idf quantization (floor-log2 + octave-linear " +
        "mantissa — ONE log discipline repo-wide), all int64, " +
        "monotone, hash-exact cross-engine. Physically a ZERO-exchange " +
        "map-only projection: the native token_entropy kernel counts " +
        "and folds per row (every count is doc-local — the hash_embed " +
        "lesson applied to entropy), so the query is scan-bound at any " +
        "scale and stateless-streaming-safe (StreamingSpec).",
      Some("""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
c AS (SELECT doc_id, L, w, count(*)::BIGINT AS c
      FROM (SELECT doc_id, len(tk)::BIGINT AS L, unnest(tk) AS w FROM t)
      GROUP BY 1, 2, 3),
lg AS (SELECT doc_id, L, c, (e - 20) * 1024 + (m - 1024) AS lg
       FROM (SELECT doc_id, L, c, e, r // (pow(2, e - 10)::BIGINT) AS m
             FROM (SELECT doc_id, L, c, (L * 1048576) // c AS r,
                          len(bin((L * 1048576) // c)) - 1 AS e
                   FROM c)))
SELECT doc_id, L AS n_tok, (sum(c * lg) // L)::BIGINT AS entropy_mb
FROM lg GROUP BY doc_id, L"""),
      (s, dir) => graft.api.TextOps.tokenEntropy(
        Tables.documents(s, dir), "doc_id", "text")),

    QueryDef(
      "q125_tokenizer_fit",
      "Tokenizer-fit (fertility) report (BpeOps.fertility): per " +
        "source, whitespace words, BPE tokens under the q95-learned " +
        "merges, and fertility = tokens-per-word x1000 — THE metric " +
        "for judging a vocabulary against a corpus mix (a source " +
        "whose fertility stays near its character count is one the " +
        "vocab doesn't cover), and the number token budgets per " +
        "source should be set from (q60's mixture weights use doc " +
        "counts; production mixtures weigh TOKENS). Same " +
        "vocabulary-frame application as q98 (replace chain once per " +
        "DISTINCT word, word-keyed join back, model from the session " +
        "cache — q95 owns the training cost), rolled up to the " +
        "handful of sources; integer ratio, exact end-to-end " +
        "train-then-apply-then-report hash check through the ONE " +
        "shared chain generator.",
      Some(graft.api.BpeOps.fertilityOracleSql(
        "documents", "source", "text", 12)),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = graft.api.BpeOps.trainCached(dir, docs, "text",
          nMerges = 12)
        graft.api.BpeOps.fertility(docs, "source", "text", merges)
      }),

    QueryDef(
      "q128_passage_retrieval",
      "Passage-level retrieval (TextOps.passageTopK) — the RAG shape " +
        "at chunk granularity: the corpus explodes into 32-token " +
        "chunks (map-only Generate, the q72/q85 machinery; chunk id " +
        "= doc x 100000 + idx), chunks and queries embed through the " +
        "zero-shuffle hash_embed kernel, and each query ranks " +
        "passages by cosine — WHERE in a document the relevant " +
        "passage sits, not just which document. Sims quantize to " +
        "floor(sim x 1e6) BEFORE ranking (q112's discipline: integer " +
        "ranks are cross-engine-exact), ties to the smaller chunk, " +
        "own-document chunks excluded. This brute leg is the " +
        "correctness baseline; at 100TB the chunk vectors feed the " +
        "same IVF-PQ index build as doc vectors (the q114 swap — " +
        "chunks are just more rows). The oracle replays chunking, " +
        "BOTH embeddings (one prefixed CTE generator), and the exact " +
        "quantized ranking.",
      Some(s"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
x AS (SELECT doc_id, toks,
             unnest(generate_series(0, (len(toks) - 1) // 32)) AS chunk_idx
      FROM t),
ch AS MATERIALIZED (
  SELECT doc_id * 100000 + chunk_idx AS id,
         array_to_string(list_slice(toks, chunk_idx * 32 + 1,
                                    chunk_idx * 32 + 32), ' ') AS text
  FROM x),
qd AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 500 = 0),
${DedupQueries.hashEmbedCte("c", "ch")},
${DedupQueries.hashEmbedCte("q", "qd")},
sc AS (SELECT q.id AS qid, c.id AS cid,
              floor(list_dot_product(q.v, c.v) * 1000000.0)::BIGINT AS sim
       FROM qe q JOIN ce c ON q.id <> c.id // 100000),
r AS (SELECT qid, cid, sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, cid ASC) AS rank
      FROM sc)
SELECT qid, rank::BIGINT AS rank, cid // 100000 AS doc_id,
       cid % 100000 AS chunk_idx, sim AS sim_x1e6
FROM r WHERE rank <= 10"""),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.api.TextOps.passageTopK(docs,
          docs.filter(col("doc_id") % 500 === 0)
            .select(col("doc_id").as("qid"), col("text")),
          "doc_id", "text", "qid", k = 10)
      }),

    QueryDef(
      "q129_passage_retrieval_ivfpq",
      "q128's passage retrieval at its 100-TB shape (TextOps." +
        "passageTopKIvfPq): queries probe a PERSISTED IVF-PQ index " +
        "built over the CHUNK vectors — chunks are just more rows to " +
        "the same writeIvfPqIndex the doc-level q114 uses, which is " +
        "the claim q128 makes, made literal — with nprobe=5/8 cell " +
        "routing, 16-byte ADC scans inside only the routed partition " +
        "directories, the chunk pseudo-id decoded back to (doc, " +
        "chunk), own-doc chunks excluded. Short-chunk embeddings make " +
        "raw ADC ranks noisy, so the top-100 shortlist EXACT-reranks " +
        "(the q94 ADC + refine shape — measured sf0.1 overlap rose " +
        "from 0-5/10 raw to 6-10/10 refined at nprobe=5). Retrieval " +
        "is still approximate (routing bounds recall), so the oracle " +
        "is the q114 in-band posture: per query, the output must be " +
        "rank-dense, size-match the brute output (read from the " +
        "SHARED materialized passage stage — q128 owns the honest " +
        "brute cost), and overlap it at chunk granularity on at " +
        "least 3 of 10 rows (measured 6-10/10 at sf0.1, 5+/10 at the " +
        "small SFs' single query).",
      Some("""
SELECT doc_id AS qid, true AS n_ok, true AS rn_dense, true AS overlap_ok
FROM documents WHERE doc_id % 500 = 0"""),
      (s, dir) => overlapOracle(passageIvfPqCounts(s, dir),
        AnnFloors.floor(s, "q129_passage_retrieval_ivfpq", dir))),

    QueryDef(
      "q141_hybrid_deployed_parity",
      "The FULL-DEPLOYMENT hybrid retrieval shape in the correctness " +
        "gate (TextOps.hybridTopKAgainstIndexes): BOTH legs probe " +
        "persisted indexes — lexical via bm25TopKAgainstIndex " +
        "(prefix-pruned contrib scan + query-sized broadcast join, " +
        "q108's probe) and semantic via the SAME session-cached " +
        "IVF-PQ index q114 probes — fused by the ONE shared rrfFuse. " +
        "No corpus frame appears in the deployed call's plan: a " +
        "retrieval batch touches only the two indexes' pruned " +
        "slices. The in-band oracle is EXACT PARITY, stronger than " +
        "q114's overlap floor: per query, the deployed ranking must " +
        "equal the catalog-gated hybridTopKIvfPq ranking row for row " +
        "on (rank, doc, rrf) — bm25's probe == in-process scoring is " +
        "the fold==rebuild q108 contract, the semantic legs share " +
        "one derivation, and rrfFuse is retriever-agnostic, so ANY " +
        "drift between the deployment shape and the gated shape " +
        "(stale contrib bake, layered-postings mis-reconcile, probe " +
        "geometry skew) flips parity_ok false.",
      Some("""
SELECT doc_id AS qid, true AS parity_ok
FROM documents WHERE doc_id % 100 = 0"""),
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val qs = docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("qid"), col("text"))
        val deployed = graft.api.TextOps.hybridTopKAgainstIndexes(
          qs, "qid", "text", hybridBm25Dir(s, dir), hybridIvfPqDir(s, dir),
          "doc_id", k = 10, nprobe = 3)
        // the contrast comes from the SHARED materialized stage (q114
        // owns the honest IVF-hybrid cost — its in-process BM25
        // contribution build dominates; this parity check only needs
        // the rows, the hybridBrute/q78 discipline)
        val gated = SharedStages.hybridIvfPq(s, dir)
        val d = deployed.select(col("qid"), col("rank"), col("doc_id"),
          col("rrf"), lit(1L).as("_dl"))
        val g = gated.select(col("qid").as("_gq"), col("rank").as("_gr"),
          col("doc_id").as("_gd"), col("rrf").as("_grf"), lit(1L).as("_gl"))
        val perQ = d.join(g,
            col("qid") === col("_gq") && col("rank") === col("_gr") &&
              col("doc_id") === col("_gd") && col("rrf") === col("_grf"),
            "full")
          .groupBy(coalesce(col("qid"), col("_gq")).as("qid"))
          .agg((sum(when(col("_dl").isNull || col("_gl").isNull, 1L)
            .otherwise(0L)) === 0L).as("parity_ok"))
        // one row per query doc even when both sides emit nothing for
        // it (the overlapCounts allQids discipline — a silently empty
        // pair of legs must not shrink the output)
        docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("qid"))
          .join(perQ, Seq("qid"), "left")
          .select(col("qid"),
            coalesce(col("parity_ok"), lit(true)).as("parity_ok"))
      }),

    QueryDef(
      "q151_line_dedup",
      "Corpus-level duplicated-line removal (TextOps.dedupLines) — " +
        "the CCNet/RefinedWeb line-wise correction pass, and the one " +
        "REWRITING boilerplate stage the engine was missing (q70 " +
        "SCORES boilerplate; this removes it): a line whose " +
        "normalized form (trim + lowercase) appears in > 4 distinct " +
        "docs drops from EVERY doc, survivors re-assemble in original " +
        "order, and blank lines are structure — always kept, never " +
        "counted. The corpus is single-line, so both engines graft " +
        "the same 6-line skeleton (the q52/q144 injection " +
        "discipline): a 3-variant license line (df ~ N/3 — dropped), " +
        "a cookie banner whose CASE and PADDING vary by doc parity " +
        "(one key only through normalization — a drifted normalizer " +
        "under-counts and ships boilerplate), the doc's own text " +
        "(df 1 — kept), a shared paragraph keyed doc_id mod 120 that " +
        "STRADDLES the threshold at 500 docs (residues 0-19 hit df 5 " +
        "> 4 and drop, 20-119 sit AT df 4 and stay — an off-by-one " +
        "in the > comparison flips 400 docs), a blank line (kept), " +
        "a unique footer (kept). Oracle hash-compares " +
        "md5(clean) — byte-identical re-assembly, not just counts. " +
        "Scale shape: the df aggregate shuffles only (id, hash60) " +
        "longs, the common set is boilerplate-sized (AQE broadcasts " +
        "the marker join), re-assembly is the one doc-keyed exchange.",
      Some(s"""
WITH p AS (
  SELECT doc_id,
         'All Rights Reserved. Site ' || (doc_id % 3) || chr(10) ||
         (CASE WHEN doc_id % 2 = 0 THEN '  Cookie Notice'
               ELSE 'COOKIE NOTICE  ' END) || chr(10) ||
         text || chr(10) ||
         'Shared para ' || (doc_id % 120) || chr(10) || chr(10) ||
         'Doc ' || doc_id || ' footer' AS t0
  FROM documents),
l AS (SELECT doc_id, (g.i - 1)::BIGINT AS pos,
             string_split(t0, chr(10))[g.i] AS line
      FROM p CROSS JOIN generate_series(1, 6) g(i)
      WHERE g.i <= len(string_split(t0, chr(10)))),
k AS (SELECT doc_id, pos, line,
             CASE WHEN trim(line) <> ''
                  THEN ${graft.functions.TextHashing.hash60Sql("lower(trim(line))")}
             END AS kh
      FROM l),
d AS (SELECT kh, 1 AS hit
      FROM (SELECT kh, count(DISTINCT doc_id) AS df
            FROM k WHERE kh IS NOT NULL GROUP BY 1)
      WHERE df > 4),
m AS (SELECT k.doc_id, k.pos, k.line, d.hit
      FROM k LEFT JOIN d ON k.kh = d.kh)
SELECT doc_id, count(*)::BIGINT AS n_lines,
       count(hit)::BIGINT AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN hit IS NULL THEN line END,
         chr(10) ORDER BY pos), '')) AS clean_sig
FROM m GROUP BY doc_id"""),
      (s, dir) => {
        val lined = Tables.documents(s, dir).select(col("doc_id"),
          concat(
            lit("All Rights Reserved. Site "),
            (col("doc_id") % 3).cast("string"), lit("\n"),
            when(col("doc_id") % 2 === 0, lit("  Cookie Notice"))
              .otherwise(lit("COOKIE NOTICE  ")), lit("\n"),
            col("text"), lit("\nShared para "),
            (col("doc_id") % 120).cast("string"), lit("\n\nDoc "),
            col("doc_id").cast("string"), lit(" footer")).as("text"))
        graft.api.TextOps.dedupLines(lined, "doc_id", "text",
            maxDocFreq = 4)
          .select(col("doc_id"), col("n_lines"), col("n_dropped"),
            md5(col("clean").cast("binary")).as("clean_sig"))
      }),

    QueryDef(
      "q152_host_centrality",
      "Host-graph centrality (PageRank.ranksByKey) — the " +
        "domain-ranking signal a crawl scheduler feeds back into " +
        "frontier priority (Common-Crawl-style domain ranks): the " +
        "q145 extraction's absolute links become host->host edges " +
        "(each doc lives on its own host — the fixture places doc i " +
        "on ex(i mod 9).org, so the residue arithmetic yields a " +
        "genuinely NON-uniform simple graph: each ex host links ONE " +
        "m host (3 | 9 forces m = k mod 3) and all five sq hosts, " +
        "self-links from the own-page anchor drop), string keys map " +
        "through the shared 60-bit hash, and 5 integer-exact " +
        "power-iteration rounds run in Long space — the q123 " +
        "arithmetic over the SIMPLE undirected host graph, replayed " +
        "by the oracle through the SAME unrolled round generator " +
        "(pagerankRoundsSql) q123 uses, so the round math cannot " +
        "drift between the doc-graph and host-graph consumers. " +
        "Scale shape: link rows collapse to distinct host PAIRS " +
        "before any iteration (the edge distinct is the one " +
        "link-volume-sized exchange — web graphs have millions of " +
        "hosts, not billions of pages), rounds move host-count rows, " +
        "the key join-back is a broadcast-sized vertex map.",
      Some(hostCentralityOracleSql),
      (s, dir) => {
        val edges = hostEdges(graft.api.TextOps.extractLinks(
          linkFixture(Tables.documents(s, dir)), "doc_id", "text"))
        graft.operators.PageRank.ranksByKey(edges, "src_host", "dst_host",
            iterations = 5)
          .select(col("key").as("host"), col("degree"), col("rank"))
      }),

    QueryDef(
      "q153_fold_line_probe",
      "Line-count index maintenance proven end-to-end " +
        "(TextOps.writeLineIndex / maintainLineIndex / " +
        "dedupLinesAgainstIndex) — the EIGHTH persisted family, " +
        "q151's 100-TB daily-ingest posture: the index stores " +
        "per-normalized-line distinct-CORPUS-doc counts partitioned " +
        "by a 64-way line-hash prefix; v1 indexes the doc_id%5 in " +
        "{1,2} slice, the {3,4} slice folds IN PLACE through the " +
        "full maintain* policy (writer lock, recoverAtEntry, " +
        "O(delta) appended run — layers stays under the threshold, " +
        "so the probe exercises the LAYERED sum-reconcile path), and " +
        "the %5=0 delta probes with maxDocFreq=16 — chosen to " +
        "STRADDLE the fixture's shared-paragraph frequencies (the " +
        "(doc_id div 5) mod 24 line hits corpus df 20 for residues " +
        "0-3, exactly 16 for 4-23: an off-by-one in the threshold or " +
        "ONE mis-summed run flips 80 docs). Reconcile is exact BY " +
        "ADDITIVITY (disjoint delta doc ids — a line's total count " +
        "is the sum of its per-run counts; the threshold is " +
        "probe-side over reconciled totals). The probe prunes the " +
        "line table to the delta's hash prefixes (isin partition " +
        "literals) and must hash-match the oracle's single-count " +
        "replay over the union corpus: fold==rebuild is literally " +
        "the driver-checked hash, on the q110/q150 pattern.",
      Some(s"""
WITH p AS (
  SELECT doc_id, $lineIndexFixtureSqlExpr AS t0
  FROM documents),
l AS (SELECT doc_id, (g.i - 1)::BIGINT AS pos,
             string_split(t0, chr(10))[g.i] AS line
      FROM p CROSS JOIN generate_series(1, 5) g(i)
      WHERE g.i <= len(string_split(t0, chr(10)))),
k AS (SELECT doc_id, pos, line,
             CASE WHEN trim(line) <> ''
                  THEN ${graft.functions.TextHashing.hash60Sql("lower(trim(line))")}
             END AS kh
      FROM l),
d AS (SELECT kh, 1 AS hit
      FROM (SELECT kh, count(DISTINCT doc_id) AS df FROM k
            WHERE doc_id % 5 <> 0 AND kh IS NOT NULL GROUP BY 1)
      WHERE df > 16),
m AS (SELECT k.doc_id, k.pos, k.line, d.hit
      FROM k LEFT JOIN d ON k.kh = d.kh
      WHERE k.doc_id % 5 = 0)
SELECT doc_id, count(*)::BIGINT AS n_lines,
       count(hit)::BIGINT AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN hit IS NULL THEN line END,
         chr(10) ORDER BY pos), '')) AS clean_sig
FROM m GROUP BY doc_id"""),
      (s, dir) => {
        val lined = lineIndexFixture(Tables.documents(s, dir))
        graft.api.TextOps.dedupLinesAgainstIndex(
            lined.filter(col("doc_id") % 5 === 0), "doc_id", "text",
            foldedLineDir(s, dir), maxDocFreq = 16)
          .select(col("doc_id"), col("n_lines"), col("n_dropped"),
            md5(col("clean").cast("binary")).as("clean_sig"))
      }),

    QueryDef(
      "q154_frontier_priority",
      "The crawl SCHEDULER's output — q146's politeness-budgeted " +
        "frontier joined with q152's host centrality, the composition " +
        "that closes crawl prioritization end-to-end: every kept URL " +
        "carries its in-link count, within-host fetch rank, AND its " +
        "host's integer-exact PageRank (the cross-host priority " +
        "signal Common-Crawl-style schedulers order their queues by). " +
        "ONE extraction feeds both legs (the hub fixture's extra " +
        "anchor is a same-host self-link, so the host graph is " +
        "identical to q152's — both engines must agree on that " +
        "subtlety); the budget leg is q146's one host-keyed exchange, " +
        "the rank leg is q152's host-pair distinct + 5 Long rounds, " +
        "and the final join is host-keyed on a host-count frame — " +
        "broadcast-sized. No global ordering column is emitted (a " +
        "global window would be the one unpartitioned sort in the " +
        "catalog); the scheduler's ORDER BY (host_rank DESC, n_refs " +
        "DESC) is derivable from the carried columns, which the " +
        "oracle value-checks row for row.",
      Some(frontierPriorityOracleSql),
      (s, dir) => {
        val links = graft.api.TextOps.extractLinks(
          linkFixture(Tables.documents(s, dir), withHub = true),
          "doc_id", "text")
        val budget = graft.api.TextOps.frontierBudget(links,
          "doc_id", "host", "href", budgetPerHost = 7)
        val ranks = graft.operators.PageRank
          .ranksByKey(hostEdges(links), "src_host", "dst_host",
            iterations = 5)
          .select(col("key").as("host"), col("rank").as("host_rank"))
        budget.join(ranks, Seq("host"))
          .select(col("host"), col("href"), col("n_refs"),
            col("fetch_rank"), col("host_rank"))
      }),

    QueryDef(
      "q155_anchor_text",
      "Anchor-text aggregation (TextOps.extractAnchors) — the label " +
        "signal a link graph carries beside its edges: every " +
        "plain-text <a> element extracts (href, anchor text) from ONE " +
        "pattern pass (two capture groups zipped positionally — href " +
        "and label can never mis-align across mixed quoting), and the " +
        "rollup reports per (host, href) the anchor count, distinct " +
        "label count, and the MOST-FREQUENT label (ties lexicographic " +
        "— deterministic, replayable), the classic relevance/title " +
        "signal for crawled-corpus curation. The fixture grafts two " +
        "anchors per doc: one whose label varies by doc_id mod 4 " +
        "(12/6/6 per URL group — the top label wins by count, not by " +
        "order) and one single-quoted to a second page family. Scale " +
        "shape: extract is map-only; the (host, href, anchor) rollup " +
        "collapses map-side; the top-label window rides the rollup's " +
        "(host, href)-compatible exchange on GROUP-sized rows, never " +
        "anchors.",
      Some(s"""
WITH p AS (
  SELECT doc_id,
         '<a href="https://h' || (doc_id % 7) || '.org/p/' || (doc_id % 21) ||
         '">' || (CASE WHEN doc_id % 4 < 2 THEN 'Read more'
                       WHEN doc_id % 4 = 2 THEN 'click here'
                       ELSE 'Read More' END) ||
         '</a> ' || text || ' <a href=''https://h' || (doc_id % 7) ||
         '.org/q/' || (doc_id % 14) || '''>details ' || (doc_id % 2) ||
         '</a>' AS t0
  FROM documents),
x AS (SELECT doc_id,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.AnchorPattern)}', 1) AS hrefs,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.AnchorPattern)}', 2) AS texts
      FROM p),
e AS (SELECT doc_id,
             regexp_replace(hrefs[g.i],
               '${sqlQuoted(graft.api.TextOps.HrefUnquotePattern)}', '\\1\\2') AS href,
             texts[g.i] AS anchor
      FROM x CROSS JOIN generate_series(1, 4) g(i)
      WHERE g.i <= len(hrefs)),
a AS (SELECT regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) AS host,
             href, anchor
      FROM e
      WHERE regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) <> ''),
g AS (SELECT host, href, anchor, count(*)::BIGINT AS cnt
      FROM a GROUP BY 1, 2, 3),
t AS (SELECT host, href, anchor, cnt,
             row_number() OVER (PARTITION BY host, href
               ORDER BY cnt DESC, anchor) AS rn
      FROM g),
s AS (SELECT host, href, sum(cnt)::BIGINT AS n_anchors,
             count(*)::BIGINT AS n_texts
      FROM g GROUP BY 1, 2)
SELECT s.host, s.href, s.n_anchors, s.n_texts, t.anchor AS top_anchor
FROM s JOIN t ON s.host = t.host AND s.href = t.href AND t.rn = 1"""),
      (s, dir) => {
        val marked = Tables.documents(s, dir).select(col("doc_id"),
          concat(
            lit("<a href=\"https://h"), (col("doc_id") % 7).cast("string"),
            lit(".org/p/"), (col("doc_id") % 21).cast("string"), lit("\">"),
            when(col("doc_id") % 4 < 2, lit("Read more"))
              .when(col("doc_id") % 4 === 2, lit("click here"))
              .otherwise(lit("Read More")),
            lit("</a> "), col("text"),
            lit(" <a href='https://h"), (col("doc_id") % 7).cast("string"),
            lit(".org/q/"), (col("doc_id") % 14).cast("string"),
            lit("'>details "), (col("doc_id") % 2).cast("string"),
            lit("</a>")).as("text"))
        val anchors = graft.api.TextOps.extractAnchors(marked,
            "doc_id", "text")
          .filter(col("host") =!= "")
        val grouped = anchors.groupBy(col("host"), col("href"),
            col("anchor"))
          .agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("host"), col("href"))
          .orderBy(col("cnt").desc, col("anchor"))
        grouped
          .withColumn("rn", row_number().over(w))
          .withColumn("n_anchors",
            sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("host"), col("href"))))
          .withColumn("n_texts",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("host"), col("href"))))
          .filter(col("rn") === 1)
          .select(col("host"), col("href"), col("n_anchors"),
            col("n_texts"), col("anchor").as("top_anchor"))
      }),

    QueryDef(
      "q156_shard_by_tokens",
      "Balanced shard assignment by token mass " +
        "(SampleOps.shardByTokens): distribute the corpus over 8 " +
        "training shards so every shard carries near-equal TOKENS " +
        "(a doc-count round-robin over skewed doc lengths leaves the " +
        "long-doc shard 2-3x heavier - a straggler every epoch). " +
        "Deterministic boustrophedon over the token-descending global " +
        "order: rank by (n_tok DESC, seeded hash, id), shard = snake " +
        "of rank - each 8-row pass places one doc per shard and the " +
        "direction flip cancels the within-pass descent, so max-min " +
        "imbalance is bounded by one document (PipelineOpsSpec pins " +
        "it). The global rank IS epochOrder with tier = -n_tok - the " +
        "same two-phase prefix count (per-(tier, hash-bucket) rank + " +
        "triangular offsets), so no global-order window exists at any " +
        "corpus size and the shard assigner cannot rank differently " +
        "from the curriculum orderer. The oracle's single-node " +
        "row_number spells the same total order declaratively.",
      Some(shardByTokensOracleSql),
      (s, dir) =>
        graft.api.SampleOps.shardByTokens(
          Tables.documents(s, dir).select(col("doc_id"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tok")),
          "doc_id", "n_tok", shards = 8, seed = "shard1")),

    QueryDef(
      "q157_temperature_mixture",
      "Temperature-rebalanced mixture at alpha = 1/2 " +
        "(SampleOps.temperatureResample) - the multilingual/" +
        "multi-source rebalance of mT5/XLM-R (sample share ~ " +
        "mass^alpha: flatten the head, up-weight the tail), in EXACT " +
        "integer arithmetic: per-source token mass m, temperature " +
        "weight w = isqrt(m) (m^(1/2) is the one sub-linear power " +
        "with an exact integer form - the three-candidate CASE " +
        "collapses both engines' float sqrt onto true isqrt at any " +
        "int64 magnitude), largest feasible scale k1000 = " +
        "min(1000*m/w) (the q60 arithmetic in token units - the " +
        "binding source keeps ~all its tokens), per-source budget " +
        "k1000*w/1000, then q142's fill-to-budget keep rule in " +
        "deterministic hash order through the SAME shared two-phase " +
        "prefix core (one fillToBudget implementation serves both " +
        "entry points - the semanticLeg discipline). Scale shape: " +
        "two tiny per-source aggregates + a 1-row min broadcast; the " +
        "window sort tracks the BUDGET, not the corpus.",
      Some(temperatureResampleOracleSql),
      (s, dir) =>
        graft.api.SampleOps.temperatureResample(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tok")),
          "doc_id", "source", "n_tok")),

    QueryDef(
      "q158_dataset_card",
      "Dataset-card composition report (TextOps.datasetCard) - the " +
        "drill-down a training-data release documents: doc and token " +
        "counts per (source, lang, quality-bucket) with ROLLUP " +
        "subtotals at every level ('(all)' markers, the q32 " +
        "grouping-sets surface) and each group's token share of the " +
        "corpus in exact ppm. The quality axis is q17's bucket " +
        "formula carried through qualityScore's keep columns - ONE " +
        "formula for the gate, the curriculum tiers and the card. " +
        "The ppm share multiplies in decimal(38,0)/HUGEINT - Long x " +
        "1e6 wraps past ~9.2e12 tokens (mid-double-digit-TB " +
        "corpora); 128-bit stays exact at any corpus size. Scale " +
        "shape: one map-only scoring pass, ONE Expand + partial-" +
        "aggregated hash aggregate for all four grouping levels, a " +
        "1-row total broadcast.",
      Some(datasetCardOracleSql()),
      (s, dir) =>
        graft.api.TextOps.datasetCard(
          Tables.documents(s, dir), "doc_id", "text", "source", "lang")),

    QueryDef(
      "q159_host_hits",
      "Host-graph hubs and authorities (PageRank.hitsByKey) - the " +
        "second link-analysis signal a crawl scheduler wants next to " +
        "q152's PageRank, and one PageRank cannot express: an " +
        "AUTHORITY score (pointed to by good hubs - fetch its pages " +
        "sooner) and a HUB score (points at good authorities - mine " +
        "its outlinks harder), the two roles a frontier acts on " +
        "differently. The q152 fixture's directed host graph stays " +
        "DIRECTED (symmetrizing would collapse the duality): ex " +
        "hosts link m/sq hosts and get no in-links, so the fixture " +
        "genuinely separates pure hubs (auth 0) from pure " +
        "authorities (hub 0). Three integer-exact mutual-recursion " +
        "rounds with L-infinity renormalization (round max as a " +
        "1-row broadcast - exact integer, where the textbook L2 norm " +
        "is float and not oracle-replayable); in-sums and the " +
        "raw x scale products run in decimal(38,0)/HUGEINT so a " +
        "10M-in-link authority cannot wrap Long. The oracle replays " +
        "all three rounds as unrolled CTEs (hitsRoundsSql - the " +
        "pagerankRoundsSql discipline). Scale shape: link rows " +
        "collapse to distinct DIRECTED host pairs before any " +
        "iteration; rounds move host-count rows; the key join-back " +
        "is a broadcast-sized vertex map.",
      Some(hostHitsOracleSql),
      (s, dir) => {
        val edges = hostEdges(graft.api.TextOps.extractLinks(
          linkFixture(Tables.documents(s, dir)), "doc_id", "text"))
        graft.operators.PageRank.hitsByKey(edges, "src_host", "dst_host",
            iterations = 3)
          .select(col("key").as("host"), col("hub"), col("auth"))
      }),

    QueryDef(
      "q160_fold_edge_rank",
      "Host-graph index maintenance proven end-to-end for PageRank " +
        "(PageRank.writeEdgeIndex / maintainEdgeIndex / " +
        "ranksByKeyAgainstIndex) - the NINTH persisted index family: " +
        "re-extracting and re-distincting a 100 TB crawl's links for " +
        "every re-rank is corpus work, but the distinct host-pair set " +
        "is host-graph-sized and ADDITIVE under set union, so a day's " +
        "links fold in as their own sorted run (O(delta) write bytes) " +
        "and layered runs reconcile by DISTINCT at read - the " +
        "set-semantics sibling of the gram/line families' " +
        "reconcile-by-SUM, where the hazard is an edge present in " +
        "SEVERAL runs: without the distinct it would inflate degrees " +
        "and corrupt every rank (the fixture guarantees such overlap: " +
        "the %5==0 delta re-links mostly-existing host pairs). The " +
        "engine builds v1 from docs %5!=0, maintain-folds the %5==0 " +
        "slice, and ranks over the INDEX; the oracle is q152's " +
        "full-corpus SQL VERBATIM (one shared definition) - " +
        "fold==rebuild is literally the driver-checked hash.",
      Some(hostCentralityOracleSql),
      (s, dir) =>
        graft.operators.PageRank.ranksByKeyAgainstIndex(
            s, foldedEdgeDir(s, dir))
          .select(col("key").as("host"), col("degree"), col("rank"))),

    QueryDef(
      "q161_fold_edge_hits",
      "The folded edge index's DIRECTED consumer: HITS over the SAME " +
        "maintained artifact q160 ranks (one foldedEdgeDir per SF - " +
        "the SharedStages discipline), against q159's full-corpus " +
        "oracle VERBATIM. Both crawl signals - undirected PageRank " +
        "and directed hub/authority - read one reconciled graph, so " +
        "the frontier scheduler's two priority inputs can never rank " +
        "different edge sets; the index stores DIRECTED pairs and " +
        "q160's symmetrization happens at read, which is what lets " +
        "one artifact serve both.",
      Some(hostHitsOracleSql),
      (s, dir) =>
        graft.operators.PageRank.hitsByKeyAgainstIndex(
            s, foldedEdgeDir(s, dir))
          .select(col("key").as("host"), col("hub"), col("auth"))),

    QueryDef(
      "q162_frontier_priority_deployed",
      "q154's DEPLOYED twin (the q141 discipline applied to the crawl " +
        "scheduler): the politeness-budget leg computes from TODAY'S " +
        "extraction (in-link counts are batch-shaped by nature), but " +
        "the host-priority leg reads the MAINTAINED edge index " +
        "(ranksByKeyAgainstIndex over q160's foldedEdgeDir artifact) " +
        "instead of re-distincting and re-ranking the corpus's links " +
        "in the scheduling path - per-schedule cost is extraction + " +
        "host-graph-sized rank rounds, with the link-volume distinct " +
        "amortized into the daily maintain* fold. The hub fixture's " +
        "extra anchor is a same-host self-link, so the maintained " +
        "graph (built hub-free) is identical to q154's rank leg - the " +
        "subtlety both engines must agree on. Oracle = q154's " +
        "full-scheduler SQL VERBATIM (one shared definition): " +
        "row-for-row parity between the in-process and deployed " +
        "compositions is the driver-checked hash.",
      Some(frontierPriorityOracleSql),
      (s, dir) => {
        val links = graft.api.TextOps.extractLinks(
          linkFixture(Tables.documents(s, dir), withHub = true),
          "doc_id", "text")
        val budget = graft.api.TextOps.frontierBudget(links,
          "doc_id", "host", "href", budgetPerHost = 7)
        val ranks = graft.operators.PageRank
          .ranksByKeyAgainstIndex(s, foldedEdgeDir(s, dir))
          .select(col("key").as("host"), col("rank").as("host_rank"))
        budget.join(ranks, Seq("host"))
          .select(col("host"), col("href"), col("n_refs"),
            col("fetch_rank"), col("host_rank"))
      }),

    QueryDef(
      "q164_weighted_host_rank",
      "Anchor-VOLUME-weighted host centrality " +
        "(PageRank.weightedRanksByKey) - the signal the unweighted " +
        "q152 deliberately discards: there a thousand anchors " +
        "between two hosts collapse to ONE edge (graph position), " +
        "here each link occurrence adds unit weight and a host " +
        "splits its rank proportionally to tie VOLUME - rank x w " +
        "div summed-incident-weight, q126's weighted power " +
        "iteration lifted to string keys. The fixture varies anchor " +
        "multiplicity BY SOURCE HOST (1 + (doc_id mod 9) mod 4 " +
        "repeats of the m-host anchor), so edge weights genuinely " +
        "differ and the weighted order diverges from the unweighted " +
        "one; the self-link drops, and per-occurrence rows collapse " +
        "to canonical unordered pairs with SUMMED weight - the one " +
        "exact form for the floor divisions (duplicate rows per " +
        "pair would round differently: floor(rw1/D) + floor(rw2/D) " +
        "!= floor(r(w1+w2)/D)). Oracle unrolls the SAME weighted " +
        "round generator as q126 (weightedPagerankRoundsSql - the " +
        "shared-fragment discipline). Scale shape: link rows " +
        "collapse to weighted host PAIRS before any iteration, " +
        "rounds move host-count rows, key join-back is a " +
        "broadcast-sized vertex map.",
      Some(weightedHostRankOracleSql),
      (s, dir) => {
        val edges = hostEdges(graft.api.TextOps.extractLinks(
          weightedLinkFixture(Tables.documents(s, dir)), "doc_id", "text"))
          .withColumn("w1", lit(1L))
        graft.operators.PageRank.weightedRanksByKey(edges,
            "src_host", "dst_host", "w1", iterations = 5)
          .select(col("key").as("host"), col("w_degree"), col("rank"))
      }),

    QueryDef(
      "q165_fold_weighted_host_rank",
      "The weighted edge family's OVERLAPPING-fold proof: q164's " +
        "anchor-volume-weighted centrality over the MAINTAINED " +
        "weighted index, where the v1 (%5!=0 docs) and delta (%5==0 " +
        "docs) runs both carry partial counts for the SAME host " +
        "pairs - every reconciled edge weight is a genuine cross-run " +
        "SUM (unlike q163's disjoint doc-pair split, and unlike " +
        "q160's set-union where overlap must NOT add). A probe that " +
        "read one run, double-counted, or distinct-ed instead of " +
        "summing shifts every w_degree and every rank; the oracle is " +
        "q164's full-corpus SQL VERBATIM (one shared definition) - " +
        "fold==rebuild is literally the driver-checked hash, on the " +
        "q160/q153 pattern. Per-rank cost is index-sized: the " +
        "canonical pair aggregation that the consumer needs anyway " +
        "IS the run reconcile, so the layered read adds no extra " +
        "exchange.",
      Some(weightedHostRankOracleSql),
      (s, dir) =>
        graft.operators.PageRank.weightedRanksByKeyAgainstIndex(
            s, foldedWeightedHostDir(s, dir))
          .select(col("key").as("host"), col("w_degree"), col("rank"))),

    QueryDef(
      "q166_robots_parse",
      "robots.txt parsing closed end-to-end (TextOps.parseRobots -> " +
        "robotsFilter): q148 consumed PRE-PARSED rules; real crawls " +
        "fetch robots BODIES, and this is the text->rules step - " +
        "comment stripping ('#' to end of line), CRLF tolerance, " +
        "case-insensitive field names with whitespace around the " +
        "colon, the REP group model (consecutive User-agent lines " +
        "share a group, a UA line after a rule starts a NEW group, " +
        "rules before any group are ignored), two-tier agent " +
        "selection (exact-match groups beat '*' groups - here the " +
        "'*' agent), and empty-value rules emitting nothing. The " +
        "per-host bodies are BUILT so the parsed '*' rules equal " +
        "q148's fixture rules exactly - but wrapped in a BadBot " +
        "group (blanket Disallow /), an OtherBot group on odd hosts, " +
        "comments, a CRLF line, and an empty Disallow: ANY group " +
        "leakage, comment mishandling, or empty-rule emission flips " +
        "verdicts corpus-wide (a leaked 'Disallow: /' disallows " +
        "everything). The oracle replays line split, comment strip, " +
        "field parse, group windows, two-tier selection, AND q148's " +
        "longest-match verdict SQL - the whole front-door step in " +
        "one driver-checked hash. Scale shape: parse is one " +
        "host-keyed window pass over rules-sized rows; the parsed " +
        "frame broadcasts into the filter like q148's.",
      Some(s"""
WITH bodies AS (
  SELECT 'ex' || k || '.org' AS host,
         '# robots for ex' || k || '.org' || chr(10) ||
         'User-agent: BadBot' || chr(10) || 'Disallow: /' || chr(10) ||
         chr(10) ||
         'User-Agent: *' || chr(13) || chr(10) ||
         'Disallow: /hub/  # boilerplate' || chr(10) ||
         (CASE WHEN k % 2 = 0 THEN 'Allow: /hub/' || chr(10) ELSE '' END) ||
         (CASE WHEN k % 3 = 0
               THEN 'Disallow: /p/' || chr(10) || 'Allow: /p/1' || chr(10)
               ELSE '' END) ||
         'Disallow:' || chr(10) ||
         (CASE WHEN k % 2 = 1
               THEN 'User-agent: OtherBot' || chr(10) || 'Allow: /' ||
                    chr(10) || 'Disallow: /private/' || chr(10)
               ELSE '' END) AS body
  FROM range(9) t(k)),
ln AS (SELECT host, g.i::BIGINT AS pos,
              regexp_replace(regexp_replace(
                string_split(body, chr(10))[g.i], '#.*', ''),
                '^\\s+|\\s+$$', '') AS lnn
       FROM bodies CROSS JOIN generate_series(1, 16) g(i)
       WHERE g.i <= len(string_split(body, chr(10)))),
f AS (SELECT host, pos,
             lower(regexp_extract(lnn, '^([A-Za-z-]+)\\s*:\\s*(.*)$$', 1)) AS fld,
             regexp_extract(lnn, '^([A-Za-z-]+)\\s*:\\s*(.*)$$', 2) AS val
      FROM ln),
g1 AS (SELECT host, pos, fld, val, (fld = 'user-agent') AS isua,
              COALESCE(lag(fld = 'user-agent')
                OVER (PARTITION BY host ORDER BY pos), false) AS prevua
       FROM f),
g2 AS (SELECT *, sum(CASE WHEN isua AND NOT prevua THEN 1 ELSE 0 END)
         OVER (PARTITION BY host ORDER BY pos
               ROWS UNBOUNDED PRECEDING)::BIGINT AS grp
       FROM g1),
g3 AS (SELECT *,
              max(CASE WHEN isua AND lower(val) = '*' THEN 1 ELSE 0 END)
                OVER (PARTITION BY host, grp) AS gexact,
              max(CASE WHEN isua AND val = '*' THEN 1 ELSE 0 END)
                OVER (PARTITION BY host, grp) AS gstar
       FROM g2),
g4 AS (SELECT *, max(gexact) OVER (PARTITION BY host) AS hexact FROM g3),
rules AS (SELECT DISTINCT host AS rh, val AS prefix,
                 (fld = 'allow') AS allow
          FROM g4
          WHERE grp >= 1
            AND (CASE WHEN hexact = 1 THEN gexact = 1 ELSE gstar = 1 END)
            AND fld IN ('allow', 'disallow') AND val <> ''),
p AS (
  SELECT doc_id, ${linkFixtureSqlExpr(withHub = true)} AS t0
  FROM documents),
l AS (SELECT doc_id,
             regexp_extract_all(t0, '${sqlQuoted(graft.api.TextOps.HrefPattern)}', 1) AS links
      FROM p),
e AS (SELECT doc_id,
             regexp_replace(links[g.i],
               '${sqlQuoted(graft.api.TextOps.HrefUnquotePattern)}', '\\1\\2') AS href
      FROM l CROSS JOIN generate_series(1, 8) g(i)
      WHERE g.i <= len(links)),
u AS (SELECT doc_id, href,
             regexp_extract(href, '${graft.api.TextOps.HostPattern}', 1) AS h,
             regexp_replace(href, '^https?://[^/]+', '') AS pth
      FROM e),
m AS (SELECT doc_id, href, allow, prefix,
             row_number() OVER (PARTITION BY doc_id, href
               ORDER BY len(prefix) DESC, allow DESC, prefix) AS rn
      FROM u JOIN rules ON u.h = rules.rh AND starts_with(pth, prefix)
      WHERE u.h <> '')
SELECT u.doc_id, u.href,
       COALESCE(m.allow, true) AS allowed,
       COALESCE(m.prefix, '') AS matched_prefix
FROM u LEFT JOIN (SELECT doc_id, href, allow, prefix FROM m WHERE rn = 1) m
  USING (doc_id, href)"""),
      (s, dir) => {
        val bodies = s.range(9).select(
          concat(lit("ex"), col("id").cast("string"), lit(".org"))
            .as("host"),
          concat(
            lit("# robots for ex"), col("id").cast("string"),
            lit(".org\n"),
            lit("User-agent: BadBot\nDisallow: /\n\n"),
            lit("User-Agent: *\r\n"),
            lit("Disallow: /hub/  # boilerplate\n"),
            when(col("id") % 2 === 0, lit("Allow: /hub/\n"))
              .otherwise(lit("")),
            when(col("id") % 3 === 0,
              lit("Disallow: /p/\nAllow: /p/1\n")).otherwise(lit("")),
            lit("Disallow:\n"),
            when(col("id") % 2 === 1,
              lit("User-agent: OtherBot\nAllow: /\nDisallow: /private/\n"))
              .otherwise(lit(""))).as("body"))
        val rules = graft.api.TextOps.parseRobots(bodies, "host", "body")
        graft.api.TextOps.robotsFilter(
          graft.api.TextOps.extractLinks(
            linkFixture(Tables.documents(s, dir), withHub = true),
            "doc_id", "text"),
          "doc_id", "href", rules)
      }),

    QueryDef(
      "q167_weighted_frontier_priority",
      "The crawl scheduler at anchor-VOLUME granularity, deployed " +
        "(q162's shape with the weighted leg): q154/q162 rank hosts " +
        "by graph POSITION (distinct pairs - a thousand anchors " +
        "collapse to one edge); this composition orders the same " +
        "politeness-budgeted frontier by the anchor-volume-weighted " +
        "centrality instead - the host-priority leg reads the " +
        "MAINTAINED weighted edge index (q165's foldedWeightedHostDir " +
        "artifact, weightedRanksByKeyAgainstIndex), so in-link VOLUME " +
        "feeds the queue order at index-sized per-schedule cost with " +
        "the link-volume aggregation amortized into the daily " +
        "maintain* fold. ONE extraction feeds both legs (the q154 " +
        "discipline): the budget rollup and the weighted edges derive " +
        "from the same per-occurrence link rows, which the oracle " +
        "makes structural by composing q146's budget SQL and the " +
        "q126-generator weighted rounds over ONE shared CTE prefix. " +
        "Scale shape: budget leg = q146's one host-keyed exchange; " +
        "rank leg = index read + host-count rounds; closing join " +
        "host-keyed on a host-count frame.",
      Some(weightedFrontierPriorityOracleSql),
      (s, dir) => {
        val links = graft.api.TextOps.extractLinks(
          weightedLinkFixture(Tables.documents(s, dir)), "doc_id", "text")
        val budget = graft.api.TextOps.frontierBudget(links,
          "doc_id", "host", "href", budgetPerHost = 7)
        val ranks = graft.operators.PageRank
          .weightedRanksByKeyAgainstIndex(s, foldedWeightedHostDir(s, dir))
          .select(col("key").as("host"), col("rank").as("host_rank"))
        budget.join(ranks, Seq("host"))
          .select(col("host"), col("href"), col("n_refs"),
            col("fetch_rank"), col("host_rank"))
      }),

    QueryDef(
      "q168_fold_weighted_host_hits",
      "Anchor-VOLUME-weighted hubs and authorities over the MAINTAINED " +
        "weighted edge index (PageRank.weightedHitsByKeyAgainstIndex) " +
        "- the DIRECTED consumer the 10th family stores its " +
        "orientation for: q159's HITS deliberately collapses a " +
        "thousand anchors to one edge (graph position), here each " +
        "hop's contribution is multiplied by the edge's summed anchor " +
        "count, so a host cited by a thousand anchors from one good " +
        "hub outranks a host that hub mentions once - the two crawl " +
        "roles at in-link-volume granularity. Reads q165's " +
        "foldedWeightedHostDir artifact (v1 + OVERLAPPING maintain-" +
        "fold), so this is ALSO the directed fold-parity proof: the " +
        "canonical directed-pair aggregation inside weightedHits IS " +
        "the cross-run SUM reconcile, and the oracle is the FULL-" +
        "corpus weighted-HITS SQL over the shared fixture prefix " +
        "(weightedHostFixtureCtes - the exact text q164/q165/q167 " +
        "rank from), with three weighted mutual-recursion rounds " +
        "unrolled (weightedHitsRoundsSql, the hitsRoundsSql shape " +
        "with h*w products in HUGEINT mirroring Spark's " +
        "decimal(38,0)). Unit weights on distinct pairs reproduce " +
        "q159's unweighted HITS exactly (DedupSpec law - " +
        "multiplication distributes over the raw sums, so only the " +
        "weights differentiate). Scale shape: index read + host-" +
        "count-row rounds, no corpus re-extraction; the key join-" +
        "back is the broadcast-sized vertex map.",
      Some(weightedHostHitsOracleSql),
      (s, dir) =>
        graft.operators.PageRank.weightedHitsByKeyAgainstIndex(
            s, foldedWeightedHostDir(s, dir))
          .select(col("key").as("host"), col("hub"), col("auth"))),

    QueryDef(
      "q169_edge_takedown_rank",
      "The edge family's DELETE path (PageRank.foldRemovalsInto" +
        "EdgeIndex / removeKeysFromEdgeIndex): a robots change or " +
        "host de-listing must REMOVE edges, and until round 16 only " +
        "a full rebuild honored it. Tombstones land as their own " +
        "(s, t) run in $ix/removals and reconcile BY ANTI-JOIN at " +
        "read - a tombstoned pair is invisible no matter how many " +
        "edge runs assert it, until a compaction makes the removal " +
        "durable and clears the tombstone set (the LSM delete " +
        "contract, stated honestly: absolute within a compaction " +
        "epoch). Here the q160 fixture's index (v1 + maintain-fold) " +
        "takes DOWN host m1.net via removeKeysFromEdgeIndex - the " +
        "incident pairs derive from the index's own reconciled edge " +
        "set (one index-sized scan, tombstone-sized write, no link " +
        "re-extraction), under the writer lock. The oracle is q152's " +
        "full-corpus SQL with the removed host's directed rows " +
        "EXCLUDED (one shared parameterized generator - tombstoning " +
        "every incident edge IS deleting the host's rows): the " +
        "removed host vanishes from the rank output and every " +
        "neighbor's degree drops exactly. Scale shape: q160's plan + " +
        "one takedown-sized anti-join below the distinct.",
      Some(hostCentralityOracleSqlFor(
        "WHERE src <> 'm1.net' AND dst <> 'm1.net'")),
      (s, dir) =>
        graft.operators.PageRank.ranksByKeyAgainstIndex(
            s, takedownEdgeDir(s, dir))
          .select(col("key").as("host"), col("degree"), col("rank"))),

    QueryDef(
      "q170_weighted_takedown_rank",
      "The weighted family's DELETE path (PageRank.foldRemovalsInto" +
        "WeightedEdgeIndex / removeKeysFromWeightedEdgeIndex): a " +
        "SIGNED run the existing SUM reconcile absorbs for free - " +
        "removal rows fold in with negated weights, a fully-removed " +
        "pair nets to 0 and drops at the consumers' net-positive " +
        "filter, and compaction makes the deletion durable (non-" +
        "positive nets' bytes gone). Here the q165 fixture's " +
        "weighted index (v1 + OVERLAPPING maintain-fold) takes down " +
        "host m1.net via removeKeysFromWeightedEdgeIndex, which " +
        "negates each incident directed pair's RECONCILED net weight " +
        "in one manifested run (index-sized scan, tombstone-sized " +
        "write, atomic via the per-run manifest commit). The oracle " +
        "is q164's full-corpus SQL with the removed host's rows " +
        "EXCLUDED (the shared parameterized generator - netting " +
        "every incident pair to 0 IS deleting the host's rows); " +
        "partial removals (an anchor retracted, not a takedown) are " +
        "DedupSpec-pinned separately. Scale shape: q165's plan - " +
        "the canonical pair aggregation absorbs the signed run at " +
        "zero extra exchanges.",
      Some(weightedHostRankOracleSqlFor(
        "WHERE src <> 'm1.net' AND dst <> 'm1.net'")),
      (s, dir) =>
        graft.operators.PageRank.weightedRanksByKeyAgainstIndex(
            s, takedownWeightedHostDir(s, dir))
          .select(col("key").as("host"), col("w_degree"), col("rank"))),

    QueryDef(
      "q171_fold_dataset_card",
      "The dataset card off the MAINTAINED corpus-stats index " +
        "(CardOps.datasetCardAgainstIndex) - the ELEVENTH persisted " +
        "family, generalizing the LSM fold discipline from retrieval " +
        "structures to release ACCOUNTING: q158's per-(source, lang, " +
        "quality) doc/token counts are SUM-additive, so the index " +
        "stores leaf partial sums, a delta folds in as its own " +
        "manifested run at O(delta) cost (one map-only scoring pass + " +
        "one partial aggregate - never a corpus rescan), and the card " +
        "renders from group-count rows through the SAME renderCard " +
        "the batch op uses (rollup-over-leaves == rollup-over-docs " +
        "identically, because counts are additive). The fixture " +
        "builds v1 over the mod-7 6/7 slice and maintain-folds the " +
        "1/7 delta IN PLACE (writer lock + recovery + per-run " +
        "manifest; the split is deliberately COPRIME to the corpus's " +
        "source derivation so most delta leaves OVERLAP corpus " +
        "leaves and the probe genuinely exercises the cross-run SUM " +
        "reconcile - CardSpec pins the overlap non-vacuously), and the oracle is " +
        "q158's full-corpus SQL VERBATIM (the shared parameterized " +
        "generator) - fold == rebuild, checked against the batch " +
        "card's own oracle. Scale shape: the probe reads ONLY the " +
        "leaf-count-sized stats parquet - no documents scan exists " +
        "in the plan (PlanSpec pins it); leaves number |sources| x " +
        "|langs| x 3, broadcast-sized at any corpus size.",
      Some(datasetCardOracleSql()),
      (s, dir) =>
        graft.api.CardOps.datasetCardAgainstIndex(
          s, foldedCardDir(s, dir))),

    QueryDef(
      "q172_card_takedown",
      "The card family's DELETE path (CardOps." +
        "foldRemovalsIntoCardIndex) - a source-level takedown (a " +
        "license retraction, a de-listed crawl source) folds the " +
        "removed documents' leaf stats in as a SIGNED run the SUM " +
        "reconcile absorbs for free: src3's leaves net to EXACTLY 0 " +
        "docs and drop at the consumers' net-positive filter (full " +
        "removal - the whole source vanishes from the card), every " +
        "'(all)' subtotal and the exact-ppm denominators adjust, and " +
        "the card tracks the post-takedown corpus at O(removed) cost " +
        "with no rescan. Partial removals (a dedup pass's drops) are " +
        "CardSpec-pinned separately; compaction makes deletions " +
        "durable (net-<=-0 leaves' bytes gone). The fixture is " +
        "q171's index shape with documents WHERE source = 'src3' " +
        "removal-folded; the oracle is the SAME shared generator " +
        "with that source's docs excluded - netting a leaf to 0 IS " +
        "deleting its docs. Scale shape: q171's probe plan " +
        "unchanged - the signed run is absorbed by the same leaf " +
        "aggregation at zero extra exchanges.",
      Some(datasetCardOracleSql("WHERE source <> 'src3'")),
      (s, dir) =>
        graft.api.CardOps.datasetCardAgainstIndex(
          s, takedownCardDir(s, dir))),

    QueryDef(
      "q173_shard_manifest",
      "The published training release's per-shard manifest " +
        "(SampleOps.publishShards / readShardManifest) - the EXPORT " +
        "step q156's assignment lacked: data lands directory-" +
        "partitioned BY SHARD (each shard a self-contained directory " +
        "a loader mounts; files sorted by doc_id inside), and the " +
        "manifest - one (shard, n_docs, n_tokens) row per shard - is " +
        "written LAST as the COMMIT MARKER, so a crashed publish " +
        "leaves data a reader refuses by name instead of a loader " +
        "silently training on a partial release (the index families' " +
        "append-then-commit posture applied to the export surface; " +
        "AssemblyLawsSpec pins the refusal and that the manifest " +
        "attests the bytes actually on disk). The oracle aggregates " +
        "q156's assignment SQL per shard - ONE shared generator, so " +
        "the manifest cannot drift from the assignment law q156 " +
        "already proves (token balance bounded by one document). " +
        "Scale shape: the assignment's two-phase prefix count, one " +
        "id-keyed join back to the payload, one range-partitioned " +
        "write, a shard-count-sized manifest aggregate.",
      Some(s"""
SELECT shard, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
FROM ($shardByTokensOracleSql)
GROUP BY shard"""),
      (s, dir) =>
        graft.api.SampleOps.readShardManifest(s, publishedShardsDir(s, dir))),

    QueryDef(
      "q174_curated_release_manifest",
      "The release pipeline end-to-end: temperature-rebalance the " +
        "mixture (q157's exact-integer alpha=1/2 resample), PUBLISH " +
        "the kept docs as token-balanced shards (q173's export with " +
        "its committed manifest), and read the release's accounting " +
        "- curate -> export -> attest as ONE composition. The oracle " +
        "composes the two shared generators structurally: q157's " +
        "keep-set SQL VERBATIM as the corpus the q156 assignment SQL " +
        "runs over (nested-CTE composition - neither text is " +
        "re-derived, so the composition cannot drift from either " +
        "component's own oracle), aggregated per shard. Shard masses " +
        "here are the CURATED mixture's - the balance bound applies " +
        "to what actually ships, not the raw corpus. Scale shape: " +
        "q157's two tiny per-source aggregates + budget window, one " +
        "id-keyed semi-join to the payload, then q173's publish plan " +
        "unchanged.",
      Some(s"""
SELECT shard, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens
FROM (${shardByTokensOracleSqlFrom(s"""(
  SELECT d.doc_id, d.text FROM documents d
  JOIN ($temperatureResampleOracleSql) kp USING (doc_id))""")})
GROUP BY shard"""),
      (s, dir) =>
        graft.api.SampleOps.readShardManifest(
          s, publishedCuratedDir(s, dir)))
  )

  /** q173's artifact: the corpus published as 8 token-balanced shards
    * (q156's assignment written out with its committed manifest).
    */
  private[graft] def publishedShardsDir(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    SharedStages.artifact(dir, "pubshards") { root =>
      val tmp = s"$root/rel"
      graft.api.SampleOps.publishShards(
        Tables.documents(s, dir).select(col("doc_id"), col("text"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok")),
        "doc_id", "text", "n_tok", tmp, shards = 8, seed = "shard1")
      tmp
    }

  /** q174's artifact: the temperature-resampled keep set published as
    * 8 token-balanced shards — the curate → export composition.
    */
  private[graft] def publishedCuratedDir(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    SharedStages.artifact(dir, "pubcurated") { root =>
      val tmp = s"$root/rel"
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("text"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
      val kept = graft.api.SampleOps.temperatureResample(
        docs.select(col("doc_id"), col("source"), col("n_tok")),
        "doc_id", "source", "n_tok")
      graft.api.SampleOps.publishShards(
        docs.join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        "doc_id", "text", "n_tok", tmp, shards = 8, seed = "shard1")
      tmp
    }

  /** q171's persisted corpus-stats (dataset-card) index: v1 over the
    * mod-7 6/7 slice, the 1/7 delta maintain-folded IN PLACE through
    * the FULL maintain* policy (writer lock + recoverAtEntry +
    * O(delta) manifested run; the default threshold keeps it LAYERED,
    * so the probe exercises the cross-run SUM reconcile). The split
    * modulus is deliberately NOT 5: the synthetic corpus derives
    * `source` from doc_id mod #sources (a multiple of 5), so a mod-5
    * split would give every run DISJOINT sources and no leaf would
    * ever overlap — mod 7 is coprime to the derivation and the runs
    * genuinely share leaves (CardSpec pins it).
    */
  private[graft] def foldedCardDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SharedStages.artifact(dir, "foldcard")(
      cardIndex(Tables.documents(s, dir), _))

  /** Writes [[foldedCardDir]]'s index of `docs` under `root`; returns
    * its path. */
  private def cardIndex(docs: org.apache.spark.sql.DataFrame,
      root: String): String = {
    val ix = s"$root/ix"
    graft.api.CardOps.writeCardIndex(
      docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
      "source", "lang", ix)
    val compacted = graft.api.CardOps.maintainCardIndex(
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
      "source", "lang", ix)
    require(!compacted,
      "foldedCardDir: the fixture is specified to stay LAYERED " +
        "(probe must exercise the sum-reconcile path)")
    ix
  }

  /** q172's artifact: the q171-shape maintained card index with ALL
    * of source src3's documents removal-folded (full removal — the
    * source's leaves net to exactly 0). Independent of
    * [[foldedCardDir]] — q171 must keep reading the un-removed card.
    */
  private[graft] def takedownCardDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SharedStages.artifact(dir, "takedowncard") { root =>
      val docs = Tables.documents(s, dir)
      val ix = cardIndex(docs, root)
      graft.api.CardOps.foldRemovalsIntoCardIndex(
        docs.filter(col("source") === "src3"), "doc_id", "text",
        "source", "lang", ix)
      ix
    }

  /** q169's artifact: the q160-shape maintained edge index with host
    * m1.net taken down through the tombstone path. Independent of
    * [[foldedEdgeDir]] — q160/q161/q162 must keep reading the
    * un-removed graph.
    */
  private[graft] def takedownEdgeDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SharedStages.artifact(dir, "takedownedge") { root =>
      val ix = edgeIndex(s, dir, root)
      graft.operators.PageRank.removeKeysFromEdgeIndex(s, Seq("m1.net"), ix)
      ix
    }

  /** q170's artifact: the q165-shape maintained WEIGHTED index with
    * host m1.net taken down through the signed-run path. Independent
    * of [[foldedWeightedHostDir]] — q165/q167/q168 must keep reading
    * the un-removed graph.
    */
  private[graft] def takedownWeightedHostDir(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    SharedStages.artifact(dir, "takedownwhost") { root =>
      val ix = weightedHostIndex(s, dir, root)
      graft.operators.PageRank.removeKeysFromWeightedEdgeIndex(
        s, Seq("m1.net"), ix)
      ix
    }

  /** q153's line fixture — the q151 skeleton minus the license line,
    * with the shared paragraph keyed `(doc_id div 5) mod 24` (the
    * q147 hub-decoupling trick: independent of the corpus/delta
    * doc_id mod 5 split, so delta lines DO hit corpus counts, and the
    * residue arithmetic lands corpus df exactly ON and OVER the q153
    * threshold). One generator emitted into both engines.
    */
  private def lineIndexFixture(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), concat(
      when(col("doc_id") % 2 === 0, lit("  Cookie Notice"))
        .otherwise(lit("COOKIE NOTICE  ")), lit("\n"),
      col("text"), lit("\nShared para "),
      expr("(doc_id div 5) % 24").cast("string"), lit("\n\nDoc "),
      col("doc_id").cast("string"), lit(" footer")).as("text"))

  /** [[lineIndexFixture]]'s DuckDB spelling (a def — the catalog val
    * interpolates it during its own initializer, before this object's
    * trailing vals would exist). */
  private def lineIndexFixtureSqlExpr: String =
    """(CASE WHEN doc_id % 2 = 0 THEN '  Cookie Notice'
             ELSE 'COOKIE NOTICE  ' END) || chr(10) ||
       text || chr(10) ||
       'Shared para ' || ((doc_id // 5) % 24) || chr(10) || chr(10) ||
       'Doc ' || doc_id || ' footer'"""

  /** q153's persisted line-count index: v1 over the 40% slice, the
    * other 40% folded IN PLACE through the FULL maintain* policy
    * (writer lock + recoverAtEntry + O(delta) run; the default
    * threshold keeps it LAYERED, so the probe exercises the
    * sum-reconcile path — the foldedGramDir discipline for the
    * eighth family).
    */
  private[graft] def foldedLineDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SharedStages.artifact(dir, "foldline") { tmp =>
      val lined = lineIndexFixture(Tables.documents(s, dir))
      graft.api.TextOps.writeLineIndex(
        lined.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2),
        "doc_id", "text", s"$tmp/v1")
      val compacted = graft.api.TextOps.maintainLineIndex(
        lined.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4),
        "doc_id", "text", s"$tmp/v1")
      require(!compacted,
        "foldedLineDir: the fixture is specified to stay LAYERED " +
          "(probe must exercise the sum-reconcile path)")
      s"$tmp/v1"
    }

  /** q114's raw overlap counts: IVF-PQ hybrid leg vs the SHARED
    * materialized brute stage, per-query (qid, _n, _bn, rn_dense,
    * _ov). Split from the boolean oracle mapping so
    * [[AnnFloorMeasure]] can record the measured minima the
    * [[AnnFloors]] floors are pinned against.
    */
  private[graft] def hybridIvfPqCounts(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val qs = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val iv = graft.api.TextOps.hybridTopKIvfPq(docs, qs,
      "doc_id", "text", "qid", hybridIvfPqDir(s, dir),
      k = 10, nprobe = 3)
    // the brute contrast comes from the SHARED materialized stage
    // (q112 owns the honest end-to-end cost; this oracle leg only
    // needs the result rows)
    val br = SharedStages.hybridBrute(s, dir)
    overlapCounts(docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid")),
      iv, br.select(col("qid").as("_bq"), col("doc_id").as("_bid")),
      col("qid") === col("_bq") && col("doc_id") === col("_bid"))
  }

  /** q129's raw overlap counts at chunk granularity — the
    * [[hybridIvfPqCounts]] twin over the passage legs. */
  private[graft] def passageIvfPqCounts(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, dir)
    val qs = docs.filter(col("doc_id") % 500 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val iv = graft.api.TextOps.passageTopKIvfPq(qs,
      "doc_id", "text", "qid", passageIvfPqDir(s, dir),
      k = 10, nprobe = 5)
    val br = SharedStages.passageBrute(s, dir)
    overlapCounts(docs.filter(col("doc_id") % 500 === 0)
        .select(col("doc_id").as("qid")),
      iv, br.select(col("qid").as("_bq"), col("doc_id").as("_bid"),
        col("chunk_idx").as("_bci")),
      col("qid") === col("_bq") && col("doc_id") === col("_bid") &&
        col("chunk_idx") === col("_bci"))
  }

  /** Shared overlap-count shape for the approximate-vs-brute oracles:
    * join the approximate top-k rows against the brute rows, count
    * per-query size (_n), brute size (_bn), rank-density, and overlap
    * (_ov). `allQids` pins one output row per query doc even when a
    * side emits nothing.
    */
  private def overlapCounts(allQids: org.apache.spark.sql.DataFrame,
      iv: org.apache.spark.sql.DataFrame,
      brRows: org.apache.spark.sql.DataFrame,
      joinCond: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    val brCnt = brRows.groupBy(col("_bq").as("_cq"))
      .agg(count(lit(1)).as("_bn"))
    val ivAgg = iv.join(brRows, joinCond, "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("_n"),
        (sum(col("rank")) * 2 === count(lit(1)) * (count(lit(1)) + 1) &&
          max(col("rank")) === count(lit(1))).as("rn_dense"),
        sum(when(col("_bq").isNotNull, 1L).otherwise(0L)).as("_ov"))
    allQids
      .join(ivAgg, Seq("qid"), "left")
      .join(brCnt, col("qid") === col("_cq"), "left")
      .select(col("qid"),
        coalesce(col("_n"), lit(0L)).as("_n"),
        coalesce(col("_bn"), lit(0L)).as("_bn"),
        coalesce(col("rn_dense"), lit(true)).as("rn_dense"),
        coalesce(col("_ov"), lit(0L)).as("_ov"))
  }

  /** Boolean oracle mapping over [[overlapCounts]] output: per query
    * the approximate side must size-match the brute side, be
    * rank-dense, and overlap it on at least `floorPer10` of 10 rows
    * (scaled to the actual row count). An IVF-PQ variant emitting
    * zero rows where the brute emits ten fails n_ok (a left-join
    * coalescing only the iv side to true would pass a fully broken
    * retriever — the non-vacuity the oracle actually needs);
    * both-empty stays vacuously green.
    */
  private def overlapOracle(counts: org.apache.spark.sql.DataFrame,
      floorPer10: Int): org.apache.spark.sql.DataFrame =
    counts.select(col("qid"),
      (col("_n") === col("_bn")).as("n_ok"),
      col("rn_dense"),
      (col("_ov") * 10 >= least(col("_n"), col("_bn")) * floorPer10)
        .as("overlap_ok"))

  // q141's persisted BM25 index over the q114 corpus: together with
  // hybridIvfPqDir this makes the deployed call's plan corpus-free
  private[graft] def hybridBm25Dir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SharedStages.artifact(dir, "hybbm25") { tmp =>
      graft.api.TextOps.writeBm25Index(
        Tables.documents(s, dir), "doc_id", "text", s"$tmp/ix")
      s"$tmp/ix"
    }

  // q129's persisted CHUNK-vector IVF-PQ index (the hybridIvfPqDir
  // discipline at passage granularity): chunks become pseudo-docs
  // exactly as passageTopK builds them, so probe and brute see one
  // chunk universe.
  private[graft] def passageIvfPqDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SharedStages.artifact(dir, "psgivfpq") { tmp =>
      val chunks = graft.api.TextOps.chunk(
        Tables.documents(s, dir), "doc_id", "text", 32, 32)
        .select((col("doc_id") * lit(100000L) + col("chunk_idx"))
          .as("_cid"), col("chunk_text"))
      val cv = graft.api.TextOps.embedText(chunks, "_cid", "chunk_text", 64)
        .filter(expr("exists(v, x -> x != 0D)"))
      val model = graft.api.VectorOps.ivfPqTrain(
        cv, "_cid", "v", nCells = 8, m = 16, k = 16, seed = 42L)
      // storeVectors: q129's exact-refine leg joins the stored chunk
      // vectors (cell-pruned) instead of re-chunking + re-embedding
      // the corpus per retrieval batch
      graft.api.VectorOps.writeIvfPqIndex(cv, "_cid", "v", model, tmp,
        storeVectors = true)
      tmp
    }

  // q114's IVF-PQ index over the corpus's TEXT hash embeddings.
  // Zero-signal vectors (token-less or fully-sign-cancelled docs) are
  // excluded exactly as the brute leg excludes them, so both legs see
  // one corpus.
  private[graft] def hybridIvfPqDir(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SharedStages.artifact(dir, "hybivfpq") { tmp =>
      val ce = graft.api.TextOps.embedText(
        Tables.documents(s, dir), "doc_id", "text", 64)
        .filter(expr("exists(v, x -> x != 0D)"))
      val model = graft.api.VectorOps.ivfPqTrain(
        ce, "doc_id", "v", nCells = 8, m = 16, k = 16, seed = 42L)
      graft.api.VectorOps.writeIvfPqIndex(ce, "doc_id", "v", model, tmp)
      tmp
    }
}
