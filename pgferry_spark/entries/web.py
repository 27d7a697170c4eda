"""Web-text entries: HTML extraction, quality gates, domains and link graphs."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgferry_spark.entries.common import lake_table as _t, _LTOKS
from pgferry_spark.entries.registry import register
from pgferry_spark.functions import text as T
from pgferry_spark.utils import fan_out


def _docs_with_urls(spark, sf):
    from pgferry_spark.operators.domains import attach_urls

    return attach_urls(_t(spark, sf, "documents"))


def _domain_cte() -> str:
    """Shared oracle CTE: url synthesis + host/domain extraction built
    from the SAME module-level SQL templates the Spark side evaluates
    via F.expr — identical by construction."""
    from pgferry_spark.operators.domains import (
        DOMAIN_SQL,
        HOST_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    dom = DOMAIN_SQL.format(host="host")
    return f"""
        WITH u AS (SELECT doc_id, source, text, n_chars, {url} AS url
                   FROM documents),
        h AS (SELECT *, {host} AS host FROM u),
        d AS (SELECT *, {dom} AS domain FROM h)
    """


@register("domain_stats", oracle=lambda: _domain_cte()
        + """
            SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
                   ROUND(1.0 - count(DISTINCT md5(trim(regexp_replace(
                         lower(text), '\\s+', ' ', 'g')))) * 1.0 / count(*),
                         6) AS dup_rate,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM d GROUP BY domain
        """)
def _domain_stats(spark, sf):
    """Per-domain corpus-health rollup (docs, hosts, dup rate, bytes) —
    dup_rate_by_source keyed on the PARSED registrable domain instead of
    the ingest label. One aggregation shuffle; extraction is map-only
    codegen regexp (no parse_url: java.net.URI semantics aren't oracle-
    replayable)."""
    from pgferry_spark.operators.domains import domain_stats

    return domain_stats(_docs_with_urls(spark, sf))


@register("domain_quota_sample", oracle=lambda: _domain_cte()
        + """
            SELECT doc_id, domain FROM (
              SELECT doc_id, domain,
                     row_number() OVER (
                       PARTITION BY domain
                       ORDER BY md5(CAST(doc_id AS STRING)) ASC, doc_id ASC
                     ) AS rk
              FROM d) t
            WHERE rk <= 5
        """)
def _domain_quota_sample(spark, sf):
    """C4-style per-domain cap: at most 5 docs per domain by
    deterministic content-independent md5(doc_id) order. One partitioned
    window, rank prunes in place."""
    from pgferry_spark.operators.domains import domain_quota_sample

    return domain_quota_sample(_docs_with_urls(spark, sf), n_per_domain=5)


# Blocked registrable domains for the blocklist entry: one news-style
# domain, one org domain, and the co.uk suffix (which the documented
# last-two-label heuristic maps every *.co.uk host onto — blocking it
# exercises the approximation's blast radius deliberately).
_BLOCKED_DOMAINS = ("src1-news.com", "src2.org", "co.uk")


@register("blocklist_filter", oracle=lambda: _domain_cte()
        + f"""
            SELECT doc_id, host, domain FROM d
            WHERE domain NOT IN {_BLOCKED_DOMAINS!r}
        """)
def _blocklist_filter(spark, sf):
    """URL-blocklist gate: anti join on the parsed domain against a
    config-sized blocklist (AQE broadcasts it; no forced hint)."""
    from pgferry_spark.operators.domains import blocklist_filter

    blocked = spark.createDataFrame(
        [(x,) for x in _BLOCKED_DOMAINS], "domain: string"
    )
    return blocklist_filter(_docs_with_urls(spark, sf), blocked)


def _url_dedup_oracle() -> str:
    """Same shared-template discipline for the canonical-URL key; the
    ``g`` placeholder is the ONE engine divergence (DuckDB regexp_replace
    needs an explicit global flag, Spark is always-global)."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    qc = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl = NURL_SQL.format(url="url", host="host")
    return f"""
        WITH u AS (SELECT doc_id, source, {url} AS url FROM documents),
        h AS (SELECT *, {host} AS host FROM u),
        q AS (SELECT *, {qc} AS __q FROM h),
        n AS (SELECT *, {nurl} AS nurl FROM q)
        SELECT nurl, MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
        FROM n GROUP BY nurl
    """


@register("url_dedup", oracle=_url_dedup_oracle)
def _url_dedup(spark, sf):
    """URL-level exact dedup on the canonical crawl key (scheme/port/
    userinfo/www/fragment/tracking-params stripped): keep-min-id per
    normalized URL — the C4 step that runs BEFORE content dedup. One
    map-side-combinable aggregation shuffle."""
    from pgferry_spark.operators.domains import url_dedup

    return url_dedup(_docs_with_urls(spark, sf))


def _script_profile_oracle() -> str:
    """Counts from the shared SCRIPT_COUNT_SQL template; dominance CASE
    replays script_profile's fixed-order tie-break."""
    from pgferry_spark.functions.text import (
        MULTISCRIPT_SYNTH_SQL,
        SCRIPT_COUNT_SQL,
        SCRIPT_RANGES,
    )

    synth = MULTISCRIPT_SYNTH_SQL.format(id="doc_id", txt="text")
    counts = ", ".join(
        "CAST("
        + SCRIPT_COUNT_SQL.format(col="mtext", ranges=r, g=", 'g'")
        + f" AS INT) AS n_{s}"
        for s, r in SCRIPT_RANGES.items()
    )
    names = [f"n_{s}" for s in SCRIPT_RANGES]
    best = "greatest(" + ", ".join(names) + ")"
    dom = f"CASE WHEN {best} = 0 THEN 'und' " + " ".join(
        f"WHEN n_{s} = {best} THEN '{s}'" for s in list(SCRIPT_RANGES)[:-1]
    ) + f" ELSE '{list(SCRIPT_RANGES)[-1]}' END"
    return f"""
        WITH m AS (SELECT doc_id, {synth} AS mtext FROM documents),
        c AS (SELECT doc_id, {counts} FROM m)
        SELECT doc_id, {', '.join(names)}, {dom} AS dominant_script FROM c
    """


@register("script_profile", oracle=_script_profile_oracle)
def _script_profile(spark, sf):
    """Unicode-script profile over a deterministically multiscript-
    decorated corpus: per-doc character counts for Latin/Cyrillic/CJK/
    Arabic literal ranges + dominant script. Literal-endpoint ranges are
    the one spelling Java regex and RE2 read identically (\\p{Script}
    names and \\u escapes both diverge). Map-only codegen."""
    from pgferry_spark.functions.text import (
        MULTISCRIPT_SYNTH_SQL,
        script_profile,
    )

    d = _t(spark, sf, "documents").withColumn(
        "mtext", F.expr(MULTISCRIPT_SYNTH_SQL.format(id="doc_id", txt="text"))
    )
    return script_profile(d, "mtext", "doc_id")


def _html_cte() -> str:
    """Shared oracle CTE: messy-HTML synthesis + the full strip pipeline
    built from the SAME module-level SQL templates the Spark side
    evaluates via F.expr — identical by construction. The g placeholder
    is the one engine divergence (DuckDB regexp_replace needs the
    explicit global flag)."""
    from pgferry_spark.operators.html import HTML_SYNTH_SQL, html_strip_ctes

    synth = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    # staged strip: the charref decode table nests past
    # DuckDB's 128-deep binder cap as one expression, so the oracle
    # walks the same shared templates as chained CTE stages
    ctes, final = html_strip_ctes("h", "html", "doc_id")
    return f"""
        WITH h AS (SELECT doc_id, {synth} AS html FROM documents)
        {ctes},
        x AS (SELECT doc_id, clean_text FROM {final})
    """


def _line_dedup_oracle() -> str:
    """Corpus keep-first per exact line replayed as a window rank over
    the md5 line fingerprint (the Spark side's 16-byte keeper key);
    the short-line exemption commutes with the partition
    (identical text implies identical length)."""
    return _html_cte() + """
        , l AS (SELECT doc_id,
            CAST(generate_subscripts(string_split(clean_text, chr(10)), 1) - 1
                 AS INT) AS line_no,
            unnest(string_split(clean_text, chr(10))) AS line FROM x),
        e AS (SELECT *, row_number() OVER (PARTITION BY md5(line)
                ORDER BY doc_id, line_no) AS rk FROM l)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN length(line) < 10 OR rk = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
               coalesce(string_agg(CASE WHEN length(line) < 10 OR rk = 1
                    THEN line END, chr(10) ORDER BY line_no), '')
                 AS kept_text
        FROM e GROUP BY doc_id
    """


@register("line_dedup", oracle=_line_dedup_oracle)
def _line_dedup(spark, sf):
    """RefinedWeb corpus-wide exact-line dedup over the extracted HTML
    corpus: keep-first per line across ALL documents (agg keeper —
    map-side partial min(struct), hot boilerplate lines never
    concentrate), short lines exempt, docs rebuilt from survivors. The
    html synth plants identical boilerplate lines across docs of the
    same template class, so cross-doc dedup is genuinely exercised."""
    from pgferry_spark.operators.html import (
        attach_html,
        html_extract,
        line_dedup,
    )

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return line_dedup(html_extract(attach_html(d)), min_line_chars=10)


def _domain_token_budget_oracle() -> str:
    from pgferry_spark.functions.text import BPE_PATTERN

    return _domain_cte() + f"""
        , t AS (SELECT doc_id, domain,
            CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS INT)
              AS n_toks FROM d),
        w AS (SELECT *, SUM(n_toks) OVER (PARTITION BY domain
                ORDER BY md5(CAST(doc_id AS STRING)) ASC, doc_id ASC
                ROWS UNBOUNDED PRECEDING) AS cum_toks FROM t)
        SELECT doc_id, domain, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks
        FROM w WHERE cum_toks <= 300
    """


@register("domain_token_budget", oracle=_domain_token_budget_oracle)
def _domain_token_budget(spark, sf):
    """Per-domain TOKEN budget (the unit mixture construction actually
    allocates): subword counts per doc, then a domain-partitioned
    cumulative window admits docs in deterministic md5(id) order while
    the domain's running total stays within budget. No global sort
    anywhere (contrast select_to_token_budget's global two-pass)."""
    from pgferry_spark.operators.domains import domain_token_budget

    d = _docs_with_urls(spark, sf).withColumn(
        "n_toks", T.bpe_token_count(F.col("text"))
    )
    return domain_token_budget(d, budget=300)


def _links_cte() -> str:
    """Link list replay: same synth, same HREF template, unnest +
    generate_subscripts for the ordinality."""
    from pgferry_spark.operators.html import HREF_RE, HTML_SYNTH_SQL

    synth = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    return f"""
        WITH h AS (SELECT doc_id, source, {synth} AS html FROM documents),
        l AS (SELECT doc_id,
                CAST(generate_subscripts(
                  regexp_extract_all(html, '{HREF_RE}', 1), 1) - 1 AS INT)
                  AS link_no,
                unnest(regexp_extract_all(html, '{HREF_RE}', 1)) AS href
              FROM h)
    """


@register("extract_links", oracle=lambda: _links_cte()
        + "SELECT doc_id, link_no, href FROM l")
def _extract_links(spark, sf):
    """Outbound-link extraction from raw HTML (pre-strip — links live in
    the markup the text extractor throws away): (doc_id, link_no, href)
    via regexp_extract_all + one narrow posexplode_outer (plain explode
    would clone the array expression into a pushed size()>0 scan
    filter). The crawl-frontier / web-graph edge list."""
    from pgferry_spark.operators.html import attach_html, extract_links

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return extract_links(attach_html(d))


def _link_graph_oracle() -> str:
    from pgferry_spark.operators.domains import DOMAIN_SQL, HOST_SQL

    host = HOST_SQL.format(url="href")
    dom = DOMAIN_SQL.format(host="host")
    return _links_cte() + f"""
        , hh AS (SELECT *, {host} AS host FROM l),
        d AS (SELECT *, {dom} AS domain FROM hh)
        SELECT domain, CAST(count(*) AS BIGINT) AS n_links,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_docs
        FROM d GROUP BY domain
    """


@register("link_graph_stats", oracle=_link_graph_oracle)
def _link_graph_stats(spark, sf):
    """Domain-level link in-degree: parse every href's registrable
    domain, count inbound links + distinct linking docs — the
    link-authority table trust-propagation signals and crawl-frontier
    prioritization read. Map-only parse, ONE aggregation shuffle."""
    from pgferry_spark.operators.domains import domain_link_stats
    from pgferry_spark.operators.html import attach_html, extract_links

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return domain_link_stats(extract_links(attach_html(d)))


def _host_pagerank_oracle() -> str:
    """Replays the quantized PageRank closed-form: same edge extraction
    (shared URL/HOST/DOMAIN templates), then the 3 iterations unrolled
    as CTEs — every step integer ``//`` / integer SUM, so engine float
    semantics never enter (DuckDB's BIGINT SUM widens to HUGEINT; the
    arithmetic stays exact and the final CAST restores BIGINT)."""
    from pgferry_spark.operators.domains import (
        DOMAIN_SQL,
        HOST_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    lhost = HOST_SQL.format(url="href")
    ldom = DOMAIN_SQL.format(host="lhost")
    uhost = HOST_SQL.format(url="url")
    udom = DOMAIN_SQL.format(host="uhost")
    t, d = 1_000_000_000, 85
    its, prev = "", "r0"
    for i in (1, 2, 3):
        its += f"""
        , sh{i} AS (SELECT e.dst AS dom, SUM({prev}.r // od.outdeg) AS inm
               FROM e JOIN {prev} ON e.src = {prev}.dom
                      JOIN od ON e.src = od.dom
               GROUP BY e.dst),
        dg{i} AS (SELECT COALESCE(SUM({prev}.r), 0) AS dmass
               FROM {prev} LEFT JOIN od ON {prev}.dom = od.dom
               WHERE od.dom IS NULL),
        r{i} AS (SELECT nodes.dom,
                 ({100 - d} * ({t} // (SELECT n FROM nn))) // 100
                 + ({d} * (COALESCE(sh{i}.inm, 0)
                    + ((SELECT dmass FROM dg{i})
                       // (SELECT n FROM nn)))) // 100 AS r
               FROM nodes LEFT JOIN sh{i} ON nodes.dom = sh{i}.dom)"""
        prev = f"r{i}"
    return _links_cte() + f"""
        , lh AS (SELECT doc_id, {lhost} AS lhost FROM l),
        ld AS (SELECT doc_id, {ldom} AS dst FROM lh),
        uu AS (SELECT doc_id, {url} AS url FROM documents),
        uh AS (SELECT doc_id, {uhost} AS uhost FROM uu),
        ud AS (SELECT doc_id, {udom} AS src FROM uh),
        e AS (SELECT DISTINCT ud.src AS src, ld.dst AS dst
              FROM ld JOIN ud USING (doc_id)
              WHERE ld.dst IS NOT NULL AND ld.dst <> ''
                AND ud.src IS NOT NULL AND ud.src <> ''
                AND ud.src <> ld.dst),
        nodes AS (SELECT DISTINCT src AS dom FROM e
                  UNION SELECT DISTINCT dst AS dom FROM e),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        od AS (SELECT src AS dom, CAST(count(*) AS BIGINT) AS outdeg
               FROM e GROUP BY src),
        r0 AS (SELECT dom, {t} // (SELECT n FROM nn) AS r FROM nodes)
        {its}
        SELECT r3.dom AS domain,
               CAST(COALESCE(od.outdeg, 0) AS BIGINT) AS out_links,
               CAST(r3.r AS BIGINT) AS pr_micro
        FROM r3 LEFT JOIN od ON r3.dom = od.dom
    """


@register("host_pagerank", oracle=_host_pagerank_oracle)
def _host_pagerank(spark, sf):
    """Classic crawl-prioritization PageRank (Page et al. 1999) over the
    registrable-domain link graph — the host-rank table a CommonCrawl-
    style scheduler publishes, and the upgrade path for crawl_frontier's
    inbound-count authority column.  Edges: each document's OWN domain
    (URL synth + host/domain templates) → each outbound href's domain,
    deduped, self-loops dropped.  K=3 quantized power iterations in
    integer micro-units (the crawl_budget_allocate discipline: integer
    div + integer sums replace order-dependent float summation, so both
    engines replay bit-exactly).  Rank table is |domains| rows; per
    iteration one src-keyed join + one dst-keyed aggregate over the
    edge list; N and the dangling pool are single-row broadcast
    scalar-joins."""
    from pgferry_spark.operators.domains import (
        attach_urls,
        host_pagerank,
        with_host_domain,
    )
    from pgferry_spark.operators.html import attach_html, extract_links

    docs = fan_out(_t(spark, sf, "documents"), "doc_id")
    src = with_host_domain(attach_urls(docs)).select(
        "doc_id", F.col("domain").alias("src")
    )
    dst = with_host_domain(
        extract_links(attach_html(docs)), "href"
    ).select("doc_id", F.col("domain").alias("dst"))
    edges = dst.join(src, "doc_id").select("src", "dst")
    return host_pagerank(edges)


_URL_BLOCK_KWS = ("post", "raw", "login", "cart")


def _url_keyword_oracle() -> str:
    from pgferry_spark.operators.domains import (
        URL_PATH_SQL,
        url_keyword_sql,
    )

    path = URL_PATH_SQL.format(url="url")
    score = url_keyword_sql("__p", _URL_BLOCK_KWS)
    return _domain_cte() + f"""
        , p AS (SELECT *, {path} AS __p FROM d)
        SELECT doc_id, host, domain, url FROM p WHERE {score} = 0
    """


@register("url_keyword_filter", oracle=_url_keyword_oracle)
def _url_keyword_filter(spark, sf):
    """RefinedWeb URL word-list gate: drop documents whose URL
    path/query contains a blocked keyword (utility/login/search pages),
    keyed on the path so domains are not punished for their names.
    Map-only filter, no join."""
    from pgferry_spark.operators.domains import url_keyword_filter

    return url_keyword_filter(_docs_with_urls(spark, sf), _URL_BLOCK_KWS)


def _web_funnel_oracle() -> str:
    """The composed funnel replay: every stage reuses the SAME shared
    templates its standalone entry uses (url/host/domain/nurl, path
    keyword score, HTML synth/strip, C4 line predicate)."""
    from pgferry_spark.operators.domains import (
        DOMAIN_SQL,
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_PATH_SQL,
        URL_SYNTH_SQL,
        url_keyword_sql,
    )
    from pgferry_spark.operators.html import (
        HTML_SYNTH_SQL,
        LINE_KEEP_SQL,
        ROBOTS_NOINDEX_SQL,
        html_strip_ctes,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    dom = DOMAIN_SQL.format(host="host")
    qc = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl = NURL_SQL.format(url="url", host="host")
    path = URL_PATH_SQL.format(url="url")
    kw = url_keyword_sql("__p", _URL_BLOCK_KWS)
    synth = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    rob = ROBOTS_NOINDEX_SQL.format(html="html")
    strip_ctes, strip_final = html_strip_ctes("hh", "html", "doc_id, nurl")
    keep = LINE_KEEP_SQL.format(line="line")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        h AS (SELECT *, {host} AS host FROM u),
        d AS (SELECT *, {dom} AS domain FROM h),
        q AS (SELECT *, {qc} AS __q FROM d),
        n AS (SELECT *, {nurl} AS nurl FROM q),
        p AS (SELECT *, {path} AS __p FROM n),
        g0 AS (SELECT *, {synth} AS html FROM p),
        g AS (SELECT *, ({kw} = 0) AS g1,
                 (({kw} = 0) AND domain NOT IN {_BLOCKED_DOMAINS!r}) AS g2,
                 (({kw} = 0) AND domain NOT IN {_BLOCKED_DOMAINS!r}
                  AND NOT ({rob})) AS g3
              FROM g0),
        hh AS (SELECT doc_id, nurl, html FROM g WHERE g3)
        {strip_ctes},
        x AS (SELECT doc_id, nurl, clean_text FROM {strip_final}),
        l AS (SELECT doc_id, nurl,
                unnest(string_split(clean_text, chr(10))) AS line FROM x),
        s AS (SELECT doc_id, min(nurl) AS nurl FROM l
              GROUP BY doc_id
              HAVING sum(CASE WHEN {keep} THEN 1 ELSE 0 END) >= 2)
        SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM g
        UNION ALL SELECT '1_url_keyword_gate',
            CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) FROM g
        UNION ALL SELECT '2_domain_blocklist',
            CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) FROM g
        UNION ALL SELECT '3_robots_noindex',
            CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) FROM g
        UNION ALL SELECT '4_page_clean', CAST(count(*) AS BIGINT) FROM s
        UNION ALL SELECT '5_url_dedup_keepers',
            CAST(count(DISTINCT nurl) AS BIGINT) FROM s
    """


@register("web_curation_funnel", oracle=_web_funnel_oracle)
def _web_curation_funnel(spark, sf):
    """The whole web stack composed end-to-end into a per-stage
    funnel report: raw → URL keyword gate → domain blocklist → HTML
    extraction + C4 page clean → canonical-URL dedup keepers. The two
    URL gates are map-side flags counted in ONE aggregate (no joins);
    the page clean runs only over gated survivors; five rows out."""
    from pgferry_spark.operators.domains import web_curation_funnel
    from pgferry_spark.operators.html import attach_html

    docs = attach_html(_docs_with_urls(spark, sf))
    docs = fan_out(docs, "doc_id")
    return web_curation_funnel(docs, _BLOCKED_DOMAINS, _URL_BLOCK_KWS)


def _crawl_snapshot_frames(spark, sf):
    """Two deterministic crawl snapshots over the shared URL synthesis:
    the previous snapshot (doc_id % 4 != 0, capture_ts 100+id%7) and a
    re-crawl (doc_id % 2 = 0, capture_ts 200+id%7, content mutated on
    id % 10 = 0) — overlap/new/carried/changed all populated by the
    filter arithmetic, so the oracle replays everything."""
    from pgferry_spark.functions.text import fingerprint
    from pgferry_spark.operators.domains import attach_urls, snapshot_reduce

    d = _t(spark, sf, "documents")
    corpus = attach_urls(d.filter("doc_id % 4 <> 0")).select(
        "doc_id", "url",
        fingerprint(F.col("text")).alias("fp"),
        (F.lit(100) + F.col("doc_id") % 7).alias("capture_ts"),
    )
    mutated = F.when(
        F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" updated"))
    ).otherwise(F.col("text"))
    batch = attach_urls(d.filter("doc_id % 2 = 0")).select(
        "doc_id", "url",
        fingerprint(mutated).alias("fp"),
        (F.lit(200) + F.col("doc_id") % 7).alias("capture_ts"),
    )
    return snapshot_reduce(corpus), batch


def _crawl_oracle_cte() -> str:
    """Shared-template replay of the two-snapshot merge: url/host/nurl
    strings imported from operators/domains.py, fingerprints replayed as
    md5(normalized text), reduction + full outer join + status CASE."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    qc = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl = NURL_SQL.format(url="url", host="host")
    fp_old = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
    fp_new = (
        "md5(trim(regexp_replace(lower(CASE WHEN doc_id % 10 = 0 "
        "THEN text || ' updated' ELSE text END), '\\s+', ' ', 'g')))"
    )
    take_b = (
        "(c.doc_id IS NULL OR (b.doc_id IS NOT NULL "
        "AND b.capture_ts >= c.capture_ts))"
    )
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        h AS (SELECT *, {host} AS host FROM u),
        q AS (SELECT *, {qc} AS __q FROM h),
        n AS (SELECT *, {nurl} AS nurl FROM q),
        corp0 AS (SELECT nurl, doc_id,
                    CAST(100 + doc_id % 7 AS BIGINT) AS capture_ts,
                    {fp_old} AS fp,
                    row_number() OVER (PARTITION BY nurl
                      ORDER BY (100 + doc_id % 7) DESC, doc_id ASC) AS rk
                  FROM n WHERE doc_id % 4 <> 0),
        c AS (SELECT nurl, doc_id, capture_ts, fp FROM corp0 WHERE rk = 1),
        bat0 AS (SELECT nurl, doc_id,
                   CAST(200 + doc_id % 7 AS BIGINT) AS capture_ts,
                   {fp_new} AS fp,
                   row_number() OVER (PARTITION BY nurl
                     ORDER BY (200 + doc_id % 7) DESC, doc_id ASC) AS rk
                 FROM n WHERE doc_id % 2 = 0),
        b AS (SELECT nurl, doc_id, capture_ts, fp FROM bat0 WHERE rk = 1),
        m AS (SELECT
                COALESCE(c.nurl, b.nurl) AS nurl,
                CASE WHEN {take_b} THEN b.doc_id ELSE c.doc_id END AS doc_id,
                CASE WHEN {take_b} THEN b.capture_ts ELSE c.capture_ts END
                  AS capture_ts,
                CASE WHEN {take_b} THEN b.fp ELSE c.fp END AS fp,
                CASE WHEN c.doc_id IS NULL THEN 'new'
                     WHEN b.doc_id IS NULL THEN 'carried'
                     WHEN b.fp = c.fp THEN 'unchanged'
                     WHEN {take_b} THEN 'changed'
                     ELSE 'stale_capture' END AS status
              FROM c FULL OUTER JOIN b ON c.nurl = b.nurl)
    """


# crawl-snapshot keep-newest merge
@register("crawl_snapshot_merge", oracle=lambda: _crawl_oracle_cte()
        + "SELECT nurl, doc_id, capture_ts, fp, status FROM m")
def _crawl_snapshot_merge(spark, sf):
    """Crawl-snapshot keep-newest merge on the canonical URL key
    (CommonCrawl re-crawl posture): previous snapshot's per-nurl URL
    index full-outer-joined with the reduced new crawl; newest capture
    wins, every nurl labeled new/changed/unchanged/carried. The corpus
    side is zero-exchange when bucketed by nurl (plan-pinned in
    tests/test_domains.py, mirroring incremental_dedup)."""
    from pgferry_spark.operators.domains import crawl_snapshot_merge

    corpus_index, batch = _crawl_snapshot_frames(spark, sf)
    return crawl_snapshot_merge(corpus_index, batch)


@register("crawl_delta_counts", oracle=lambda: _crawl_oracle_cte()
        + """SELECT status, CAST(count(*) AS BIGINT) AS n_urls
             FROM m GROUP BY status""")
def _crawl_delta_counts(spark, sf):
    """Snapshot-over-snapshot audit: URL counts per merge status — one
    map-side-combinable agg over the merge."""
    from pgferry_spark.operators.domains import (
        crawl_delta_counts,
        crawl_snapshot_merge,
    )

    corpus_index, batch = _crawl_snapshot_frames(spark, sf)
    return crawl_delta_counts(crawl_snapshot_merge(corpus_index, batch))


_BLOCKWORDS = ("slow", "legacy")


def _blockword_oracle() -> str:
    lits = ", ".join(f"'{w}'" for w in _BLOCKWORDS)
    return f"""
        WITH t AS (SELECT doc_id, {_LTOKS} AS ltoks FROM documents)
        SELECT doc_id, list_has_any(ltoks, [{lits}]) AS blocked FROM t
    """


@register("blockword_flags", oracle=_blockword_oracle)
def _blockword_flags(spark, sf):
    """C4 document word-list gate: per-doc blocked flag on
    TOKEN equality (lowercased whitespace tokens vs the config list) —
    not substring containment, so embedded innocents never trip
    (Scunthorpe-safe). One arrays_overlap against a literal array,
    map-only; the blocklist here is an innocuous stand-in vocabulary
    ('slow', 'legacy') — the semantics are the named C4 stage, the
    list is config."""
    from pgferry_spark.operators.filters import blockword_flags

    return blockword_flags(
        _t(spark, sf, "documents"), _BLOCKWORDS, "text", "doc_id"
    )


def _gopher_oracle() -> str:
    """DuckDB replay of the Gopher gates: same synth template, list
    HOFs for the per-token/per-line signals, thresholds applied to the
    ROUNDED columns exactly as the Spark side does."""
    from pgferry_spark.operators.filters import (
        GOPHER_STOPWORDS,
        GOPHER_SYNTH_SQL,
    )

    synth = GOPHER_SYNTH_SQL.format(id="doc_id", txt="text")
    stops = " + ".join(
        f"CAST(list_contains(ltoks, '{w}') AS INT)" for w in GOPHER_STOPWORDS
    )
    return f"""
        WITH g AS (SELECT doc_id, {synth} AS gtext FROM documents),
        t AS (SELECT doc_id, gtext,
                (CASE WHEN trim(gtext) = '' THEN CAST([] AS VARCHAR[])
                 ELSE regexp_split_to_array(trim(gtext), '\\s+') END) AS toks,
                string_split(gtext, chr(10)) AS lines
              FROM g),
        t2 AS (SELECT *, list_transform(toks, x -> lower(x)) AS ltoks
               FROM t),
        m AS (SELECT doc_id,
                len(toks) AS n_words,
                list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                  AS total_chars,
                (length(gtext) - length(replace(gtext, '#', '')))
                  + (length(gtext) - length(replace(gtext, '...', ''))) / 3
                  + (length(gtext) - length(replace(gtext, '…', '')))
                  AS sym_cnt,
                len(lines) AS n_lines,
                len(list_filter(lines, l -> starts_with(trim(l), '- ')
                    OR starts_with(trim(l), '• ')
                    OR starts_with(trim(l), '* '))) AS bullet_lines,
                len(list_filter(lines, l -> ends_with(trim(l), '...')
                    OR ends_with(trim(l), '…'))) AS ell_lines,
                len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                  AS alpha_words,
                ({stops}) AS n_stopword_hits
              FROM t2),
        r AS (SELECT doc_id,
                CAST(n_words AS INT) AS n_words,
                round(total_chars / n_words, 6) AS mean_word_len,
                round(sym_cnt / n_words, 6) AS symbol_ratio,
                round(bullet_lines / n_lines, 6) AS bullet_line_ratio,
                round(ell_lines / n_lines, 6) AS ellipsis_line_ratio,
                round(alpha_words / n_words, 6) AS alpha_word_ratio,
                CAST(n_stopword_hits AS INT) AS n_stopword_hits
              FROM m WHERE n_words > 0)
        SELECT *,
               (n_words >= 25 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio <= 0.1
                AND bullet_line_ratio <= 0.9
                AND ellipsis_line_ratio <= 0.3
                AND alpha_word_ratio >= 0.8
                AND n_stopword_hits >= 1) AS passes
        FROM r
    """


@register("gopher_quality_flags", oracle=_gopher_oracle)
def _gopher_quality_flags(spark, sf):
    """Gopher A1.1 document-quality gates: the eight named
    per-document rules as one map-only flag table over a decorated
    corpus (one class per failure mode: all-bullet doc, ellipsis line,
    symbol soup, undecorated). Word bounds tuned to the synthetic
    10-99-word docs; stopword floor 1 (the corpus vocabulary carries
    'the' but not the rest of the canonical eight)."""
    from pgferry_spark.operators.filters import (
        GOPHER_SYNTH_SQL,
        gopher_quality_flags,
    )

    d = _t(spark, sf, "documents").withColumn(
        "gtext", F.expr(GOPHER_SYNTH_SQL.format(id="doc_id", txt="text"))
    )
    return gopher_quality_flags(
        d, "gtext", "doc_id", min_words=25, min_stopwords=1
    )


def _moji_docs(spark, sf):
    from pgferry_spark.operators.encoding import MOJIBAKE_SYNTH_SQL

    return _t(spark, sf, "documents").withColumn(
        "mtext", F.expr(MOJIBAKE_SYNTH_SQL.format(id="doc_id", txt="text"))
    )


def _moji_cte() -> str:
    from pgferry_spark.operators.encoding import MOJIBAKE_SYNTH_SQL

    synth = MOJIBAKE_SYNTH_SQL.format(id="doc_id", txt="text")
    return f"WITH m AS (SELECT doc_id, {synth} AS mtext FROM documents)"


def _mojibake_stats_oracle() -> str:
    """Shared-template replay: the same synth + count expression both
    engines evaluate verbatim."""
    from pgferry_spark.operators.encoding import mojibake_count_sql

    cnt = mojibake_count_sql("mtext")
    return _moji_cte() + f"""
        SELECT doc_id, CAST({cnt} AS INT) AS n_mojibake,
               {cnt} > 0 AS has_mojibake
        FROM m
    """


@register("mojibake_stats", oracle=_mojibake_stats_oracle)
def _mojibake_stats(spark, sf):
    """Mojibake census (the ftfy-style
    encoding-repair stage CCNet/OSCAR pipelines run before quality
    scoring): per-document occurrence counts over a bounded literal
    table generated from the actual UTF-8→cp1252 round trip, gated on
    the three possible lead chars. Synthesis appends letter-mojibake /
    punctuation-mojibake / nothing per id%3. Map-only, no regex."""
    from pgferry_spark.operators.encoding import mojibake_stats

    return mojibake_stats(_moji_docs(spark, sf), "mtext", "doc_id")


def _mojibake_repair_oracle() -> str:
    from pgferry_spark.operators.encoding import mojibake_repair_sql

    rep = mojibake_repair_sql("mtext")
    return _moji_cte() + f"""
        SELECT doc_id, {rep} AS text FROM m
    """


@register("mojibake_repair", oracle=_mojibake_repair_oracle)
def _mojibake_repair(spark, sf):
    """The repair itself: every table spelling decoded back to its
    intended character via sentinel-framed chained replaces (the
    charref double-decode lesson — several targets are themselves
    cp1252 pattern chars). Hash-green means byte-identical repaired
    text on both engines."""
    from pgferry_spark.operators.encoding import mojibake_repair

    return mojibake_repair(_moji_docs(spark, sf), "mtext", "doc_id")


def _html_title_meta_oracle() -> str:
    """Shared-template replay: base synth + title/meta decoration +
    the same chr(34)-spliced capture patterns."""
    from pgferry_spark.operators.html import (
        HTML_SYNTH_SQL,
        META_DESC_SQL,
        TITLE_META_SYNTH_SQL,
        TITLE_SQL,
    )

    base = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    deco = TITLE_META_SYNTH_SQL.format(id="doc_id", html=f"({base})")
    title = TITLE_SQL.format(html="html")
    desc = META_DESC_SQL.format(html="html")
    return f"""
        WITH h AS (SELECT doc_id, {deco} AS html FROM documents)
        SELECT doc_id, {title} AS title, {desc} AS meta_description
        FROM h
    """


@register("html_title_meta", oracle=_html_title_meta_oracle)
def _html_title_meta(spark, sf):
    """Title + meta-description extraction (the two metadata fields every curation pipeline keeps and every
    WAT envelope carries), off the raw synthetic HTML decorated with
    uppercase/lowercase title spellings and both meta attribute
    orders (quoted name-first, unquoted-name content-first); the
    undecorated class falls back to the base template's constant
    title. Quote chars splice into the capture patterns via chr(34) —
    the one spelling both engines' literal rules share. Map-only."""
    from pgferry_spark.operators.html import (
        TITLE_META_SYNTH_SQL,
        attach_html,
        html_title_meta,
    )

    d = attach_html(_t(spark, sf, "documents")).withColumn(
        "html",
        F.expr(TITLE_META_SYNTH_SQL.format(id="doc_id", html="html")),
    )
    return html_title_meta(d)


def _extract_tables_oracle() -> str:
    """Three staged unnest levels over the same shared regex templates
    (the prototype shape verified on both engines)."""
    from pgferry_spark.operators.html import (
        HTML_SYNTH_SQL,
        TABLE_CELL_RE,
        TABLE_RE,
        TABLE_ROW_RE,
        TABLE_SYNTH_SQL,
    )

    base = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    deco = TABLE_SYNTH_SQL.format(id="doc_id", html=f"({base})", src="source")
    return f"""
        WITH h AS (SELECT doc_id, {deco} AS html FROM documents),
        t AS (SELECT doc_id,
                CAST(generate_subscripts(
                  regexp_extract_all(html, '{TABLE_RE}', 1), 1) - 1 AS INT)
                  AS table_no,
                unnest(regexp_extract_all(html, '{TABLE_RE}', 1)) AS tb
              FROM h),
        r AS (SELECT doc_id, table_no,
                CAST(generate_subscripts(
                  regexp_extract_all(tb, '{TABLE_ROW_RE}', 1), 1) - 1 AS INT)
                  AS row_no,
                unnest(regexp_extract_all(tb, '{TABLE_ROW_RE}', 1)) AS rw
              FROM t),
        c AS (SELECT doc_id, table_no, row_no,
                CAST(generate_subscripts(
                  regexp_extract_all(rw, '{TABLE_CELL_RE}', 1), 1) - 1
                  AS INT) AS col_no,
                unnest(regexp_extract_all(rw, '{TABLE_CELL_RE}', 1)) AS cell
              FROM r)
        SELECT doc_id, table_no, row_no, col_no, cell FROM c
    """


@register("extract_tables", oracle=_extract_tables_oracle)
def _extract_tables(spark, sf):
    """HTML table harvesting: every <table>
    cell with (table, row, col) ordinality — the structured-data
    stream curation routes separately from prose (exactly the content
    the C4 line rules would drop as short punctuation-less lines).
    Three narrow ordinality-preserving explodes; synthesis layers a
    two-column key/value table (header row, attributed tags), an
    uppercase single-cell table, and undecorated pages on top of the
    untouched base synth."""
    from pgferry_spark.operators.html import (
        TABLE_SYNTH_SQL,
        attach_html,
        extract_tables,
    )

    d = attach_html(_t(spark, sf, "documents")).withColumn(
        "html",
        F.expr(
            TABLE_SYNTH_SQL.format(id="doc_id", html="html", src="source")
        ),
    )
    return extract_tables(d)


def _utf8_sanity_oracle() -> str:
    from pgferry_spark.operators.encoding import (
        UTF8_SYNTH_SQL,
        utf8_sanity_sql,
    )

    synth = UTF8_SYNTH_SQL.format(id="doc_id", txt="text")
    n_repl, n_ctrl = utf8_sanity_sql("utext")
    return f"""
        WITH m AS (SELECT doc_id, {synth} AS utext FROM documents)
        SELECT doc_id,
               CAST({n_repl} AS INT) AS n_replacement,
               CAST({n_ctrl} AS INT) AS n_control,
               ({n_repl} = 0 AND {n_ctrl} = 0) AS passes
        FROM m
    """


@register("utf8_sanity_flags", oracle=_utf8_sanity_oracle)
def _utf8_sanity_flags(spark, sf):
    """UTF-8 sanity census (the OSCAR-style
    encoding-error gate, complementary to mojibake): U+FFFD replacement
    characters mean the decode already LOST bytes (no repair exists —
    drop candidates), raw C0 controls are the binary-junk fingerprint.
    Literal replace-diff scans only (regex character-class escape
    spellings diverge between engines); synthesis covers
    replacement-only / control-only / mixed / clean classes."""
    from pgferry_spark.operators.encoding import (
        UTF8_SYNTH_SQL,
        utf8_sanity_flags,
    )

    d = _t(spark, sf, "documents").withColumn(
        "utext", F.expr(UTF8_SYNTH_SQL.format(id="doc_id", txt="text"))
    )
    return utf8_sanity_flags(d, "utext", "doc_id")


def _fineweb_oracle() -> str:
    """DuckDB replay of the FineWeb gates: same synth template, list
    HOFs for the line signals, list_distinct for the dup-char
    complement, thresholds applied to the ROUNDED columns exactly as
    the Spark side does."""
    from pgferry_spark.operators.filters import (
        FINEWEB_SYNTH_SQL,
        FINEWEB_TERMINAL_PUNCT,
    )

    synth = FINEWEB_SYNTH_SQL.format(id="doc_id", txt="text")
    punct = " OR ".join(
        f"ends_with(trim(l), '{p}')" for p in FINEWEB_TERMINAL_PUNCT
    )
    return f"""
        WITH g AS (SELECT doc_id, {synth} AS ftext FROM documents),
        t AS (SELECT doc_id,
                list_filter(string_split(ftext, chr(10)),
                            l -> trim(l) <> '') AS lines
              FROM g),
        m AS (SELECT doc_id,
                len(lines) AS n_lines,
                len(list_filter(lines, l -> {punct})) AS punct_lines,
                len(list_filter(lines, l -> length(l) < 30))
                  AS short_lines,
                list_aggregate(list_transform(lines, x -> length(x)),
                               'sum') AS total_chars,
                list_aggregate(list_transform(list_distinct(lines),
                               x -> length(x)), 'sum') AS dist_chars
              FROM t),
        r AS (SELECT doc_id,
                CAST(n_lines AS INT) AS n_lines,
                round(punct_lines / n_lines, 6) AS punct_line_ratio,
                round(short_lines / n_lines, 6) AS short_line_ratio,
                round((total_chars - dist_chars)
                      / CAST(total_chars AS DOUBLE), 6)
                  AS dup_line_char_frac
              FROM m WHERE n_lines > 0)
        SELECT *,
               (punct_line_ratio > 0.12
                AND short_line_ratio < 0.67
                AND dup_line_char_frac < 0.1) AS passes
        FROM r
    """


@register("fineweb_quality_flags", oracle=_fineweb_oracle)
def _fineweb_quality_flags(spark, sf):
    """FineWeb custom quality gates (Penedo et
    al. 2024 §3.6): terminal-punctuation line ratio, short-line ratio,
    and duplicated-line character fraction as ONE zero-shuffle map-only
    flag table (the dup fraction rides array_distinct inside the row —
    no per-line aggregate exchange). Decoration classes: passing
    (sentence-terminated), punct-fail (raw unterminated text),
    short-line fail (which also trips the dup gate — the conjunction
    class), dup-only fail (whole line repeated)."""
    from pgferry_spark.operators.filters import (
        FINEWEB_SYNTH_SQL,
        fineweb_quality_flags,
    )

    d = _t(spark, sf, "documents").withColumn(
        "ftext", F.expr(FINEWEB_SYNTH_SQL.format(id="doc_id", txt="text"))
    )
    return fineweb_quality_flags(d, "ftext", "doc_id")


def _robots_oracle() -> str:
    """Shared-template replay: the synth html + ROBOTS_NOINDEX_SQL
    evaluated verbatim."""
    from pgferry_spark.operators.html import (
        HTML_SYNTH_SQL,
        ROBOTS_NOINDEX_SQL,
    )

    synth = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    rob = ROBOTS_NOINDEX_SQL.format(html="html")
    return f"""
        WITH h AS (SELECT doc_id, {synth} AS html FROM documents)
        SELECT doc_id, {rob} AS noindex FROM h
    """


@register("robots_noindex_flags", oracle=_robots_oracle)
def _robots_noindex_flags(spark, sf):
    """Per-document robots meta-noindex verdict over the raw synthetic
    HTML: the page-level opt-out a polite crawl honors before
    extraction — template 3 pages carry a real <meta name=robots> tag,
    noindex on half of them, index,follow on the rest, so both
    polarities and the no-meta case are exercised. Map-only codegen;
    the shared ROBOTS_NOINDEX_SQL template is evaluated verbatim by
    both engines."""
    from pgferry_spark.operators.html import attach_html, robots_noindex_flags

    d = _t(spark, sf, "documents")
    return robots_noindex_flags(attach_html(d))


def _anchors_cte() -> str:
    """Whole-anchor-element replay: same synth, same ANCHOR templates,
    unnest + generate_subscripts for the ordinality."""
    from pgferry_spark.operators.html import (
        ANCHOR_RE,
        ANCHOR_TEXT_RE,
        HREF_RE,
        HTML_SYNTH_SQL,
    )

    synth = HTML_SYNTH_SQL.format(id="doc_id", txt="text", src="source")
    return f"""
        WITH h AS (SELECT doc_id, source, {synth} AS html FROM documents),
        ax AS (SELECT doc_id,
                CAST(generate_subscripts(
                  regexp_extract_all(html, '{ANCHOR_RE}', 0), 1) - 1 AS INT)
                  AS anchor_no,
                unnest(regexp_extract_all(html, '{ANCHOR_RE}', 0)) AS el
              FROM h),
        a AS (SELECT doc_id, anchor_no,
                regexp_extract(el, '{HREF_RE}', 1) AS href,
                trim(regexp_extract(el, '{ANCHOR_TEXT_RE}', 1)) AS anchor_text
              FROM ax)
    """


@register("extract_anchors", oracle=lambda: _anchors_cte()
        + "SELECT doc_id, anchor_no, href, anchor_text FROM a")
def _extract_anchors(spark, sf):
    """Anchor harvesting: (doc_id, anchor_no, href,
    anchor_text) — the web's free label set, mined from whole <a>
    elements BEFORE tag stripping. regexp_extract_all + one narrow
    posexplode_outer + per-element group extracts; map-only."""
    from pgferry_spark.operators.html import attach_html, extract_anchors

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return extract_anchors(attach_html(d))


def _anchor_stats_oracle() -> str:
    from pgferry_spark.operators.domains import DOMAIN_SQL, HOST_SQL

    host = HOST_SQL.format(url="href")
    dom = DOMAIN_SQL.format(host="host")
    return _anchors_cte() + f"""
        , hh AS (SELECT *, {host} AS host FROM a),
        d AS (SELECT *, {dom} AS domain FROM hh),
        t AS (SELECT doc_id, domain,
                unnest(string_split_regex(lower(anchor_text), ' +')) AS term
              FROM d)
        SELECT domain, term,
               CAST(count(*) AS BIGINT) AS n_mentions,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM t WHERE term <> '' GROUP BY domain, term
    """


@register("anchor_domain_stats", oracle=_anchor_stats_oracle)
def _anchor_domain_stats(spark, sf):
    """Inverted anchor-label index per TARGET domain:
    (domain, lowercased term, mentions, distinct linking docs) — what
    crawl-frontier relevance and retrieval training mine. Map-only
    parse + narrow explode + ONE aggregation shuffle."""
    from pgferry_spark.operators.html import (
        anchor_domain_stats,
        attach_html,
        extract_anchors,
    )

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return anchor_domain_stats(extract_anchors(attach_html(d)))


# HTML→text family: shared-template CTE, so the oracle
# runs the very strings the Spark side compiles via F.expr
@register("html_extract", oracle=lambda: _html_cte()
        + """SELECT doc_id, clean_text,
               CAST(len(string_split(clean_text, chr(10))) AS INT) AS n_lines
             FROM x""")
def _html_extract(spark, sf):
    """HTML→text extraction (C4/RefinedWeb stage 0): deterministic
    messy-HTML synthesis (scripts, styles, entities, nested + unclosed
    tags, comments — six templates keyed on doc_id), then the shared-SQL
    strip pipeline: script/style/comment removal → tag strip → entity
    decode → whitespace normalization. Map-only whole-stage-codegen
    regex (no UDF); the oracle evaluates the SAME template strings, so
    both engines are identical by construction (the domains.py
    discipline)."""
    from pgferry_spark.operators.html import attach_html, html_extract

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return html_extract(attach_html(d))


def _line_quality_oracle() -> str:
    from pgferry_spark.operators.html import LINE_KEEP_SQL

    keep = LINE_KEEP_SQL.format(line="line")
    return _html_cte() + f"""
        , l AS (SELECT doc_id,
            CAST(generate_subscripts(string_split(clean_text, chr(10)), 1) - 1
                 AS INT) AS line_no,
            unnest(string_split(clean_text, chr(10))) AS line FROM x)
        SELECT doc_id, line_no, line FROM l WHERE {keep}
    """


@register("line_quality_filter", oracle=_line_quality_oracle)
def _line_quality_filter(spark, sf):
    """C4 §2.2 line rules over extracted text: keep lines ending in
    terminal punctuation with >= 3 words that are not boilerplate
    (javascript/cookie notices, lorem ipsum, code lines with braces).
    One narrow posexplode after the map-only extraction; returns
    (doc_id, line_no, line) with original 0-based line numbers."""
    from pgferry_spark.operators.html import (
        attach_html,
        html_extract,
        line_quality_filter,
    )

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return line_quality_filter(html_extract(attach_html(d)))


def _c4_clean_oracle() -> str:
    """Fused C4 pipeline: line explode + shared keep predicate + ordered
    string_agg reassembly + the page-level minimum-kept-lines HAVING."""
    from pgferry_spark.operators.html import LINE_KEEP_SQL

    keep = LINE_KEEP_SQL.format(line="line")
    return _html_cte() + f"""
        , l AS (SELECT doc_id,
            CAST(generate_subscripts(string_split(clean_text, chr(10)), 1) - 1
                 AS INT) AS line_no,
            unnest(string_split(clean_text, chr(10))) AS line FROM x),
        k AS (SELECT doc_id, line_no, line, ({keep}) AS keep FROM l)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS total_lines,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                 AS kept_lines,
               coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                 ORDER BY line_no), '') AS kept_text
        FROM k GROUP BY doc_id
        HAVING sum(CASE WHEN keep THEN 1 ELSE 0 END) >= 2
    """


@register("c4_clean_documents", oracle=_c4_clean_oracle)
def _c4_clean_documents(spark, sf):
    """The fused C4 §2.2 pipeline end-to-end: HTML extraction → line
    rules → page-level minimum-retained-lines rule → each surviving
    document reassembled from its kept lines in original order. One
    narrow posexplode + ONE shuffle (the per-doc reassembly, bounded by
    doc length); boilerplate is pruned BEFORE the shuffle, so dropped
    lines never move."""
    from pgferry_spark.operators.html import (
        attach_html,
        c4_clean_documents,
        html_extract,
    )

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return c4_clean_documents(html_extract(attach_html(d)), min_kept_lines=2)
