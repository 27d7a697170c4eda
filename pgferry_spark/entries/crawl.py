"""Crawl entries: robots.txt, sitemaps, frontier, WARC/WET/WAT, CDX and HTTP."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgferry_spark.entries.common import lake_table as _t
from pgferry_spark.entries.registry import register
from pgferry_spark.entries.web import _docs_with_urls, _domain_cte, _links_cte
from pgferry_spark.utils import fan_out


def _warc_index_oracle() -> str:
    """Closed-form byte arithmetic for the WARC record index: fixed
    header template = 132 bytes + the three variable-width fields
    (doc_id digits, URI octets, Content-Length digits); offsets are a
    cumulative window over doc order within each container.  The Spark
    side PARSES real container bytes, so hash-green means the parser
    and this arithmetic agree to the byte."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        r AS (SELECT doc_id,
                (doc_id // 8) AS container_id,
                url, text,
                CAST(strlen(text) AS BIGINT) AS plen,
                CAST(132 + length(CAST(doc_id AS VARCHAR)) + strlen(url)
                     + length(CAST(strlen(text) AS VARCHAR)) AS BIGINT)
                  AS hlen
              FROM u),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) - 1 AS INT) AS record_no,
                SUM(hlen + plen + 4) OVER (PARTITION BY container_id
                     ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - (hlen + plen + 4) AS rec_offset
              FROM r)
        SELECT container_id, record_no,
               CAST(rec_offset AS BIGINT) AS rec_offset,
               CAST(hlen + plen + 4 AS BIGINT) AS rec_len,
               CAST(rec_offset + hlen AS BIGINT) AS payload_offset,
               CAST(plen AS BIGINT) AS payload_len,
               md5(text) AS payload_md5,
               'response' AS warc_type,
               url AS target_uri
        FROM w
    """


@register("warc_record_index", oracle=_warc_index_oracle)
def _warc_record_index(spark, sf):
    """WARC-style crawl-container record index: documents are
    packed 8-at-a-time into real ISO 28500-framed containers
    (version line + typed headers + Content-Length payload + trailing
    CRLFs), then REAL byte parsing inside Arrow batches emits one row
    per record with its exact record/payload byte ranges — the index
    that turns 100 TB re-extraction into bounded range reads (the
    video_frame_index geometry applied to text archives). The oracle
    replays every offset as closed-form header arithmetic + a
    cumulative window, so green means parser and arithmetic agree to
    the byte. Container bytes never shuffle; index rows do."""
    from pgferry_spark.sources.warc import attach_warc, warc_record_index

    return warc_record_index(attach_warc(_docs_with_urls(spark, sf)))


def _robots_domains(spark, sf):
    from pgferry_spark.operators.domains import (
        ROBOTS_TXT_SYNTH_SQL,
        with_host_domain,
    )

    d = with_host_domain(_docs_with_urls(spark, sf))
    return (
        d.select("domain")
        .dropDuplicates()
        .withColumn(
            "robots_txt",
            F.expr(ROBOTS_TXT_SYNTH_SQL.format(domain="domain")),
        )
    )


def _robots_rules_cte() -> str:
    """Shared-template robots.txt replay with RFC 9309 §2.1 MULTI-AGENT
    group union: distinct domains → synth file → line
    explode → UA-run identification (a run is broken only by a
    directive line; ``dirs_before`` — the running directive count — is
    constant across one run's UA lines) → directive lines join the
    run's FULL agent membership."""
    from pgferry_spark.operators.domains import (
        ROBOTS_DELAY_RE,
        ROBOTS_RULE_RE,
        ROBOTS_TXT_SYNTH_SQL,
        ROBOTS_UA_RE,
    )

    synth = ROBOTS_TXT_SYNTH_SQL.format(domain="domain")
    # CRLF-safe line split: real robots.txt
    # bodies carry \r\n terminators; a bare-\n split leaves \r inside
    # every captured prefix and the gate fails open.  chr(13)||'?'||
    # chr(10) is the regex both engines read identically (no string-
    # literal escape divergence).
    return _domain_cte() + f"""
        , dd AS (SELECT DISTINCT domain FROM d),
        rt AS (SELECT domain, {synth} AS robots_txt FROM dd),
        rl AS (SELECT domain,
                 CAST(generate_subscripts(string_split_regex(robots_txt,
                   chr(13) || '?' || chr(10)), 1) - 1 AS INT)
                   AS line_no,
                 trim(lower(unnest(string_split_regex(robots_txt,
                   chr(13) || '?' || chr(10)))))
                   AS __l
               FROM rt),
        ra AS (SELECT *,
                 regexp_extract(__l, '{ROBOTS_UA_RE}', 1) AS ua,
                 regexp_extract(__l, '{ROBOTS_RULE_RE}', 1) AS rule,
                 regexp_extract(__l, '{ROBOTS_RULE_RE}', 2) AS path_prefix,
                 regexp_extract(__l, '{ROBOTS_DELAY_RE}', 1) AS delay,
                 CASE WHEN regexp_extract(__l, '{ROBOTS_RULE_RE}', 1) <> ''
                        OR regexp_extract(__l, '{ROBOTS_DELAY_RE}', 1) <> ''
                      THEN 1 ELSE 0 END AS is_dir
               FROM rl),
        rb AS (SELECT *,
                 SUM(is_dir) OVER (PARTITION BY domain ORDER BY line_no
                   ROWS UNBOUNDED PRECEDING) - is_dir AS dirs_before
               FROM ra),
        rc AS (SELECT *,
                 last_value(CASE WHEN ua <> '' THEN dirs_before END
                   IGNORE NULLS) OVER (PARTITION BY domain ORDER BY line_no
                   ROWS UNBOUNDED PRECEDING) AS grp
               FROM rb),
        ag AS (SELECT DISTINCT domain, dirs_before AS grp, ua AS agent
               FROM rc WHERE ua <> ''),
        rules AS (SELECT r.domain, a.agent, r.rule, r.path_prefix
                  FROM rc r JOIN ag a
                    ON r.domain = a.domain AND r.grp = a.grp
                  WHERE r.rule <> '' AND r.path_prefix <> '')
    """


@register("robots_txt_rules", oracle=lambda: _robots_rules_cte()
        + "SELECT domain, agent, rule, path_prefix FROM rules")
def _robots_txt_rules(spark, sf):
    """RFC 9309 robots.txt parsing: per-domain Disallow rules
    with User-agent group attribution — a running last-non-null window
    over each file's line list (partition = one tiny robots.txt). The
    synth exercises a googlebot group followed by a * group, an
    allow-all file (empty Disallow → no rule), and domains with no
    file."""
    from pgferry_spark.operators.domains import parse_robots_rules

    return parse_robots_rules(_robots_domains(spark, sf))


def _pct_ctes(prev: str, col: str, keep: str, tag: str) -> tuple[str, str]:
    """Staged unreserved %-decode CTE chain over ``col`` (the shared
    pct_chunk_sql template) — returns (cte_sql, final_cte_name)."""
    from pgferry_spark.operators.domains import (
        n_pct_chunks,
        pct_chunk_sql,
        pct_flag_sql,
    )

    parts, cur = [], prev
    flag = pct_flag_sql(col)
    for i in range(n_pct_chunks()):
        nm = f"__{tag}{i}"
        parts.append(
            f", {nm} AS (SELECT {keep},"
            f" {pct_chunk_sql(col, flag, i)} AS {col} FROM {cur})"
        )
        cur = nm
    return "".join(parts), cur


def _robots_filter_oracle(agent: str = "*") -> str:
    """RFC 9309 verdict replay (full pattern semantics): the
    agent's group per domain with *-fallback, unreserved %-decode on
    BOTH sides, rule→anchored-regex translation via the shared
    robots_pattern_sql template, then the correlated argmax (pattern
    length DESC, allow-beats-disallow on ties, LIMIT 1); documents kept
    unless the winner is a disallow."""
    from pgferry_spark.operators.domains import (
        URL_PATH_SQL,
        robots_pattern_sql,
    )

    path = URL_PATH_SQL.format(url="url")
    rules_pct, rules_last = _pct_ctes("rsel", "__pn", "domain, rule", "rn")
    path_pct, path_last = _pct_ctes(
        "p", "__path", "doc_id, domain, url", "pp"
    )
    pat = robots_pattern_sql("__pn")
    return _robots_rules_cte() + f"""
        , rfall AS (SELECT *,
            max(CASE WHEN agent = '{agent}' THEN 1 ELSE 0 END)
              OVER (PARTITION BY domain) AS __spec
          FROM rules WHERE agent = '{agent}' OR agent = '*'),
        rsel AS (SELECT domain, rule, path_prefix AS __pn FROM rfall
                 WHERE agent = '{agent}' OR __spec = 0)
        {rules_pct}
        , rpat AS (SELECT domain, rule, length(__pn) AS __plen,
                     {pat} AS __pat
                   FROM {rules_last}),
        p AS (SELECT doc_id, domain, url, {path} AS __path FROM d)
        {path_pct}
        SELECT doc_id, domain, url FROM {path_last} p2
        WHERE COALESCE((
          SELECT r.rule FROM rpat r
          WHERE r.domain = p2.domain
            AND regexp_matches(p2.__path, r.__pat)
          ORDER BY r.__plen DESC,
                   CASE WHEN r.rule = 'allow' THEN 1 ELSE 0 END DESC
          LIMIT 1), 'allow') <> 'disallow'
    """


@register("robots_disallow_filter", oracle=_robots_filter_oracle)
def _robots_disallow_filter(spark, sf):
    """The pre-fetch politeness gate: drop documents whose URL path
    starts with a Disallow prefix their domain's robots.txt declares
    for User-agent: * — left-anti join on (domain equi + prefix
    startswith), the rules side robots-file-sized so AQE broadcasts
    it. Oracle replays the gate as NOT EXISTS over the same shared
    templates."""
    from pgferry_spark.operators.domains import (
        parse_robots_rules,
        robots_disallow_filter,
    )

    rules = parse_robots_rules(_robots_domains(spark, sf))
    return robots_disallow_filter(_docs_with_urls(spark, sf), rules)


def _robots_sitemap_oracle() -> str:
    """Shared-template replay of the sitemap discovery: the decorated
    synth (base robots synth + directive decoration, both module
    templates verbatim), a case-PRESERVING CRLF-safe line split, and
    the same (?i) field-name regex."""
    from pgferry_spark.operators.domains import (
        ROBOTS_SITEMAP_RE,
        ROBOTS_SITEMAP_SYNTH_SQL,
        ROBOTS_TXT_SYNTH_SQL,
    )

    base = ROBOTS_TXT_SYNTH_SQL.format(domain="domain")
    synth = ROBOTS_SITEMAP_SYNTH_SQL.format(domain="domain", txt=f"({base})")
    return _domain_cte() + f"""
        , dd AS (SELECT DISTINCT domain FROM d),
        rt AS (SELECT domain, {synth} AS robots_txt FROM dd),
        rl AS (SELECT domain,
                 CAST(generate_subscripts(string_split_regex(robots_txt,
                   chr(13) || '?' || chr(10)), 1) - 1 AS INT)
                   AS line_no,
                 trim(unnest(string_split_regex(robots_txt,
                   chr(13) || '?' || chr(10))))
                   AS __l
               FROM rt)
        SELECT domain, line_no,
               regexp_extract(__l, '{ROBOTS_SITEMAP_RE}', 1) AS sitemap_url
        FROM rl
        WHERE regexp_extract(__l, '{ROBOTS_SITEMAP_RE}', 1) <> ''
    """


@register("robots_sitemap_urls", oracle=_robots_sitemap_oracle)
def _robots_sitemap_urls(spark, sf):
    """Sitemap DISCOVERY from robots.txt: the
    sitemaps.org 'Sitemap:' directive — the standard announcement edge
    between the robots stack and the sitemap parser.  The directive is
    group-independent and its URL is case-sensitive, so the parser
    rides a case-PRESERVING line pipeline (only the field name folds,
    via (?i) — the one spelling both regex engines read identically);
    synthesis layers LF + CRLF terminators and all three case spellings
    on TOP of the untouched base robots synth.  Map-only, no window."""
    from pgferry_spark.operators.domains import (
        ROBOTS_SITEMAP_SYNTH_SQL,
        ROBOTS_TXT_SYNTH_SQL,
        robots_sitemap_urls,
        with_host_domain,
    )

    base = ROBOTS_TXT_SYNTH_SQL.format(domain="domain")
    deco = ROBOTS_SITEMAP_SYNTH_SQL.format(domain="domain", txt=f"({base})")
    d = with_host_domain(_docs_with_urls(spark, sf))
    dm = (
        d.select("domain")
        .dropDuplicates()
        .withColumn("robots_txt", F.expr(deco))
    )
    return robots_sitemap_urls(dm)


def _robots_status_gate_oracle() -> str:
    """Policy CASE over the shared status synth + the nested full
    rule-verdict replay (the _frontier_schedule_oracle composition
    pattern: a complete oracle query becomes one CTE)."""
    from pgferry_spark.operators.domains import (
        ROBOTS_POLICY_SQL,
        ROBOTS_STATUS_SYNTH_SQL,
    )

    synth = ROBOTS_STATUS_SYNTH_SQL.format(domain="domain")
    policy = ROBOTS_POLICY_SQL.format(status="rstatus")
    return _domain_cte() + f"""
        , st AS (SELECT DISTINCT domain, CAST({synth} AS INT) AS rstatus
                 FROM d),
        pol AS (SELECT domain, {policy} AS policy FROM st),
        fo AS ({_robots_filter_oracle()})
        SELECT d.doc_id, d.domain, d.url,
               COALESCE(pol.policy, 'allow_all') AS policy
        FROM d LEFT JOIN pol ON d.domain = pol.domain
        WHERE COALESCE(pol.policy, 'allow_all') <> 'disallow_all'
          AND (COALESCE(pol.policy, 'allow_all') = 'allow_all'
               OR EXISTS (SELECT 1 FROM fo WHERE fo.doc_id = d.doc_id))
    """


@register("robots_status_gate", oracle=_robots_status_gate_oracle)
def _robots_status_gate(spark, sf):
    """RFC 9309 §2.3.1 fetch-status policy: the robots.txt
    FETCH status decides before any rule is read — 5xx (unreachable)
    drops the whole domain, 4xx (unavailable) admits it, 2xx applies
    the full rule verdict.  Per-domain statuses synthesized by the
    shared template (503/404/200 classes cross-cutting the body
    shapes); the rule verdict is computed once over all documents and
    policy-filtered after.  Oracle: the policy CASE + the nested full
    rule-verdict replay."""
    from pgferry_spark.operators.domains import (
        ROBOTS_STATUS_SYNTH_SQL,
        parse_robots_rules,
        robots_status_gate,
        with_host_domain,
    )

    docs = with_host_domain(_docs_with_urls(spark, sf))
    rules = parse_robots_rules(_robots_domains(spark, sf))
    statuses = (
        docs.select("domain")
        .dropDuplicates()
        .withColumn(
            "rstatus",
            F.expr(
                ROBOTS_STATUS_SYNTH_SQL.format(domain="domain")
            ).cast("int"),
        )
    )
    return robots_status_gate(docs, rules, statuses)


def _robots_delay_oracle() -> str:
    """Delay lines join the §2.1 group membership exactly like rules —
    a delay inside a multi-agent group yields one row per agent."""
    return _robots_rules_cte() + """
        SELECT c.domain, a.agent, CAST(c.delay AS INT) AS delay_s
        FROM rc c JOIN ag a ON c.domain = a.domain AND c.grp = a.grp
        WHERE c.delay <> ''
    """


@register("robots_crawl_delays", oracle=_robots_delay_oracle)
def _robots_crawl_delays(spark, sf):
    """Per-(domain, agent) Crawl-delay seconds parsed from robots.txt —
    the politeness budget the frontier scheduler consumes.
    Same bounded per-file attribution window as the rules parser."""
    from pgferry_spark.operators.domains import robots_crawl_delays

    return robots_crawl_delays(_robots_domains(spark, sf))


def _crawl_frontier_oracle() -> str:
    """Frontier replay: href canonicalization over the link list, link-
    authority rollup per nurl, NOT EXISTS anti join against the crawled
    URL index, per-domain pruning rank."""
    from pgferry_spark.operators.domains import (
        DOMAIN_SQL,
        HOST_SQL,
        NURL_SQL,
        QCLEAN_SQL,
        URL_SYNTH_SQL,
    )

    host = HOST_SQL.format(url="href")
    dom = DOMAIN_SQL.format(host="host")
    qc = QCLEAN_SQL.format(url="href", g=", 'g'")
    nurl = NURL_SQL.format(url="href", host="host")
    url2 = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host2 = HOST_SQL.format(url="url")
    qc2 = QCLEAN_SQL.format(url="url", g=", 'g'")
    nurl2 = NURL_SQL.format(url="url", host="host")
    return _links_cte() + f"""
        , lh AS (SELECT *, {host} AS host FROM l),
        ld AS (SELECT *, {dom} AS domain FROM lh),
        lq AS (SELECT *, {qc} AS __q FROM ld),
        ln AS (SELECT *, {nurl} AS nurl FROM lq),
        cand AS (SELECT nurl, min(domain) AS domain,
                   count(*) AS n_links,
                   count(DISTINCT doc_id) AS n_src_docs
                 FROM ln GROUP BY nurl),
        u2 AS (SELECT doc_id, source, {url2} AS url FROM documents
               WHERE doc_id % 2 = 0),
        h2 AS (SELECT *, {host2} AS host FROM u2),
        q2 AS (SELECT *, {qc2} AS __q FROM h2),
        n2 AS (SELECT DISTINCT {nurl2} AS nurl FROM q2),
        fresh AS (SELECT c.* FROM cand c
                  WHERE NOT EXISTS
                    (SELECT 1 FROM n2 WHERE n2.nurl = c.nurl)),
        rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY domain
                   ORDER BY n_links DESC, n_src_docs DESC, nurl ASC)
                 AS INT) AS rank
               FROM fresh)
        SELECT nurl, domain, CAST(n_links AS BIGINT) AS n_links,
               CAST(n_src_docs AS BIGINT) AS n_src_docs, rank
        FROM rk WHERE rank <= 5
    """


@register("crawl_frontier", oracle=_crawl_frontier_oracle)
def _crawl_frontier(spark, sf):
    """The crawl loop closed: outbound hrefs canonicalized,
    already-crawled URLs dropped by an anti join against the URL index
    (the bucketed nurl table crawl_snapshot_merge maintains — zero
    corpus-side exchange at scale), survivors scored by link authority
    and capped per domain by one pruning window. The list a
    politeness-aware scheduler fetches next."""
    from pgferry_spark.operators.domains import (
        attach_urls,
        crawl_frontier,
        normalize_urls,
    )
    from pgferry_spark.operators.html import attach_html, extract_links

    d = _t(spark, sf, "documents")
    links = extract_links(attach_html(fan_out(d, "doc_id")))
    crawled = (
        normalize_urls(attach_urls(d.filter("doc_id % 2 = 0")))
        .select("nurl")
        .dropDuplicates()
    )
    return crawl_frontier(links, crawled)


def _sitemap_oracle() -> str:
    from pgferry_spark.operators.domains import (
        SITEMAP_LOC_RE,
        SITEMAP_SYNTH_SQL,
    )

    synth = SITEMAP_SYNTH_SQL.format(domain="domain")
    return _domain_cte() + f"""
        , dd AS (SELECT DISTINCT domain FROM d),
        sm AS (SELECT domain, {synth} AS sitemap_xml FROM dd),
        lo AS (SELECT domain,
                 CAST(generate_subscripts(
                   regexp_extract_all(sitemap_xml, '{SITEMAP_LOC_RE}', 1), 1)
                   - 1 AS INT) AS loc_no,
                 unnest(regexp_extract_all(sitemap_xml,
                   '{SITEMAP_LOC_RE}', 1)) AS loc_url
               FROM sm)
        SELECT domain, loc_no, loc_url FROM lo
    """


@register("sitemap_locs", oracle=_sitemap_oracle)
def _sitemap_locs(spark, sf):
    """Sitemap ingestion: per-domain sitemap.xml
    synthesis (even-length domains publish, odd-length don't) parsed to
    (domain, loc_no, loc_url) via the shared <loc> template —
    regexp_extract_all + one narrow posexplode_outer, map-only. The
    crawl's volunteered-URL frontier source."""
    from pgferry_spark.operators.domains import (
        SITEMAP_SYNTH_SQL,
        parse_sitemap_locs,
        with_host_domain,
    )

    d = with_host_domain(_docs_with_urls(spark, sf))
    dm = (
        d.select("domain")
        .dropDuplicates()
        .withColumn(
            "sitemap_xml",
            F.expr(SITEMAP_SYNTH_SQL.format(domain="domain")),
        )
    )
    return parse_sitemap_locs(dm)


def _frontier_schedule_oracle() -> str:
    """Composition by nesting: the frontier query and the delay query
    (each already shared-template replays) become CTE subqueries, the
    schedule is one left join + rank arithmetic on top."""
    return f"""
        WITH f AS ({_crawl_frontier_oracle()}),
        dl AS ({_robots_delay_oracle()}),
        dm AS (SELECT domain, min(delay_s) AS delay_s FROM dl
               WHERE agent = '*' GROUP BY domain)
        SELECT f.nurl, f.domain, f.rank,
               CAST(COALESCE(dm.delay_s, 1) AS INT) AS delay_s,
               CAST((f.rank - 1) * COALESCE(dm.delay_s, 1) AS BIGINT)
                 AS fetch_at_s
        FROM f LEFT JOIN dm ON f.domain = dm.domain
    """


@register("frontier_schedule", oracle=_frontier_schedule_oracle)
def _frontier_schedule(spark, sf):
    """Politeness scheduling: the frontier wave
    joined against the robots Crawl-delay budgets — each domain's URLs
    fetch sequentially at its declared spacing (default 1 s), domains
    in parallel; fetch_at_s = (rank-1)*delay. One broadcast equi-join,
    no new window (the frontier's per-domain rank IS the schedule)."""
    from pgferry_spark.operators.domains import (
        frontier_schedule,
        robots_crawl_delays,
    )

    frontier = _crawl_frontier(spark, sf)
    delays = robots_crawl_delays(_robots_domains(spark, sf))
    return frontier_schedule(frontier, delays)


def _warc_payload_oracle() -> str:
    """The recovery proof: the oracle is simply the ORIGINAL text plus
    the container/record arithmetic — if the Spark side's parse+slice
    of real container bytes differs anywhere, the hash diverges."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents)
        SELECT (doc_id // 8) AS container_id,
               CAST(row_number() OVER (
                    PARTITION BY (doc_id // 8)
                    ORDER BY doc_id) - 1 AS INT) AS record_no,
               url AS target_uri, text
        FROM u
    """


@register("warc_payload_extract", oracle=_warc_payload_oracle)
def _warc_payload_extract(spark, sf):
    """Index-driven payload recovery: parse + slice fused in
    ONE Arrow pass per container — the proof that the record index's
    (offset, length) ranges recover every document byte-exactly. The
    oracle compares against the ORIGINAL documents text; container
    bytes are read once and never shuffle."""
    from pgferry_spark.sources.warc import attach_warc, warc_payload_extract

    return warc_payload_extract(attach_warc(_docs_with_urls(spark, sf)))


def _warc_gzip_index_oracle() -> str:
    """The closed-form half of the gzip index: record identity,
    uncompressed payload length, payload md5, type, URI — everything
    except the deflate-dependent member offsets (those are pinned by
    the pytest round-trip).  md5-green means the member walk recovered
    every payload byte-exactly through gzip."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents)
        SELECT (doc_id // 8) AS container_id,
               CAST(row_number() OVER (
                    PARTITION BY (doc_id // 8)
                    ORDER BY doc_id) - 1 AS INT) AS record_no,
               CAST(strlen(text) AS BIGINT) AS payload_len,
               md5(text) AS payload_md5,
               'response' AS warc_type,
               url AS target_uri
        FROM u
    """


# gzip members — closed-form fields for the index
# (member offsets are deflate-dependent, pytest-pinned), the
# ORIGINAL text for the extract (byte-exact recovery through
# the deflate round-trip)
@register("warc_gzip_index", oracle=_warc_gzip_index_oracle)
def _warc_gzip_index(spark, sf):
    """Gzip-member WARC indexing (the CommonCrawl transport
    reality: one deflate member per record, members concatenated).
    Documents pack into REAL per-record-gzipped containers; the index
    operator detects the member magic and walks member boundaries with
    capped inflation, emitting the member byte ranges a ranged GET
    fetches.  Compressed offsets are deflate-dependent (pinned by the
    pytest round-trip, not SQL-expressible), so the oracle checks the
    closed-form fields: record identity, UNCOMPRESSED payload length,
    payload md5 (byte-exact recovery through gzip), type, URI.
    Container bytes never shuffle."""
    from pgferry_spark.sources.warc import attach_warc, warc_record_index

    idx = warc_record_index(
        attach_warc(_docs_with_urls(spark, sf), gzip_members=True)
    )
    return idx.select(
        "container_id", "record_no", "payload_len", "payload_md5",
        "warc_type", "target_uri",
    )


@register("warc_gzip_extract", oracle=_warc_payload_oracle)
def _warc_gzip_extract(spark, sf):
    """Index-driven payload recovery THROUGH gzip members:
    member walk + capped inflate + slice fused in one Arrow pass. The
    oracle compares against the ORIGINAL documents text, so green means
    byte-exact recovery through the deflate round-trip."""
    from pgferry_spark.sources.warc import attach_warc, warc_payload_extract

    return warc_payload_extract(
        attach_warc(_docs_with_urls(spark, sf), gzip_members=True)
    )


def _cdx_index_oracle(with_url: bool = False) -> str:
    """The WARC closed-form offset arithmetic (see _warc_index_oracle)
    + the shared SURT template over the same synthesized target URI.
    ``with_url`` appends the target URL column (the CDXJ layer needs
    it; the recorded ``cdx_index`` schema stays untouched)."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        SURT_DUCK,
        SURT_PORT_SQL,
        SURT_SQL,
        URL_PATH_SQL,
        URL_SYNTH_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    host = HOST_SQL.format(url="url")
    path = URL_PATH_SQL.format(url="url")
    port = SURT_PORT_SQL.format(url="url")
    surt = SURT_SQL.format(host="host", path=path, port=port, **SURT_DUCK)
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        hh AS (SELECT *, {host} AS host FROM u),
        r AS (SELECT doc_id,
                (doc_id // 8) AS container_id,
                url, host, text,
                CAST(strlen(text) AS BIGINT) AS plen,
                CAST(132 + length(CAST(doc_id AS VARCHAR)) + strlen(url)
                     + length(CAST(strlen(text) AS VARCHAR)) AS BIGINT)
                  AS hlen
              FROM hh),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) - 1 AS INT) AS record_no,
                SUM(hlen + plen + 4) OVER (PARTITION BY container_id
                     ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - (hlen + plen + 4) AS rec_offset
              FROM r)
        SELECT {surt} AS surt,
               container_id, record_no,
               CAST(rec_offset AS BIGINT) AS rec_offset,
               CAST(hlen + plen + 4 AS BIGINT) AS rec_len,
               md5(text) AS payload_md5{", url" if with_url else ""}
        FROM w
    """


@register("cdx_index", oracle=_cdx_index_oracle)
def _cdx_index(spark, sf):
    """CDX-style capture index (the OTHER half of the
    CommonCrawl access pattern): the WARC record index keyed by SURT
    (host labels reversed + ')' + path), so sorting by the key clusters
    every capture under a domain — and all its subdomains — into one
    contiguous range, turning 'all captures of example.org' into a
    range scan over the index instead of a filter over 100 TB of
    containers.  Composition: warc_record_index ∘ surt_keys; map-only
    on top of the index rows.  The oracle replays the closed-form WARC
    arithmetic + the shared SURT template."""
    from pgferry_spark.operators.domains import surt_keys
    from pgferry_spark.sources.warc import attach_warc, warc_record_index

    idx = warc_record_index(attach_warc(_docs_with_urls(spark, sf)))
    return surt_keys(idx, url_col="target_uri").select(
        "surt", "container_id", "record_no", "rec_offset", "rec_len",
        "payload_md5",
    )


def _cdx_zipnum_oracle() -> str:
    """The CDX closed-form replay wrapped in the zipnum blocking
    arithmetic: global rank over (surt, container, record), block =
    rank div N, per-block digest via ordered string_agg."""
    from pgferry_spark.sources.zipnum import CDX_LINE_SQL

    return f"""
        WITH cdx AS ({_cdx_index_oracle()}),
        l AS (SELECT *, {CDX_LINE_SQL} AS cdx_line,
                CAST(row_number() OVER (ORDER BY surt, container_id,
                     record_no) - 1 AS BIGINT) AS rn
              FROM cdx)
        SELECT CAST(rn // 8 AS BIGINT) AS block_no,
               min(surt) AS first_surt,
               max(surt) AS last_surt,
               CAST(count(*) AS BIGINT) AS n_lines,
               md5(string_agg(cdx_line, chr(10) ORDER BY rn)) AS lines_md5
        FROM l GROUP BY 1
    """


@register("cdx_zipnum_index", oracle=_cdx_zipnum_oracle)
def _cdx_zipnum_index(spark, sf):
    """Zipnum SECONDARY index content (the cluster.idx
    pattern, the public CommonCrawl access path's second level): the
    SURT-sorted CDX lines grouped every-N into gzip-member blocks, per
    block its first/last key, line count, and an order-sensitive
    digest of every line byte that lands in it (block = global rank
    div N — closed-form, so the oracle replays the blocking exactly).
    The physical (offset, length) pointers come from
    ``publish_zipnum_sharded`` (official format), and the bounded
    lookup cost is pinned in pytest
    (tests/test_warc.py::TestCdxjOfficialFormat) — a URL lookup over a
    300 GB index inflates only the blocks holding the key, plus at most
    one leading probe."""
    from pgferry_spark.operators.domains import surt_keys
    from pgferry_spark.sources.warc import attach_warc, warc_record_index
    from pgferry_spark.sources.zipnum import cdx_zipnum_cluster

    idx = warc_record_index(attach_warc(_docs_with_urls(spark, sf)))
    cdx = surt_keys(idx, url_col="target_uri").select(
        "surt", "container_id", "record_no", "rec_offset", "rec_len",
        "payload_md5",
    )
    return cdx_zipnum_cluster(cdx)


def _cdxj_facts(spark, sf):
    """Shared CDXJ fact table: the real-parse CDX composition
    (warc_record_index ∘ surt_keys over real container bytes) enriched
    with the closed-form capture metadata the official line carries —
    fetch timestamp, media type, status (the shared synthesis
    templates over the record's document id), and the official
    crawl-data shard filename."""
    from pgferry_spark.operators.domains import surt_keys
    from pgferry_spark.sources.httpmsg import (
        HTTP_MEDIA_SQL,
        HTTP_STATUS_SQL,
    )
    from pgferry_spark.sources.warc import attach_warc, warc_record_index
    from pgferry_spark.sources.zipnum import (
        FETCH_TS_SQL,
        WARC_FILENAME_SQL,
    )

    idx = warc_record_index(attach_warc(_docs_with_urls(spark, sf)))
    cdx = surt_keys(idx, url_col="target_uri")
    i = "(container_id * 8 + record_no)"
    return (
        cdx.withColumn("fetch_ts", F.expr(FETCH_TS_SQL.format(id=i)))
        .withColumn("mime", F.expr(HTTP_MEDIA_SQL.format(id=i)))
        .withColumn(
            "status", F.expr(HTTP_STATUS_SQL.format(id=i)).cast("int")
        )
        .withColumn(
            "filename",
            F.expr(WARC_FILENAME_SQL.format(cid="container_id")),
        )
    )


def _cdxj_cte() -> str:
    """The CDX closed-form replay (with the target URL) enriched with
    the same shared templates the Spark side evaluates: fetch
    timestamp, media type, status, official shard filename."""
    from pgferry_spark.sources.httpmsg import (
        HTTP_MEDIA_SQL,
        HTTP_STATUS_SQL,
    )
    from pgferry_spark.sources.zipnum import (
        FETCH_TS_SQL,
        WARC_FILENAME_SQL,
    )

    i = "(container_id * 8 + record_no)"
    return f"""
        WITH cdx AS ({_cdx_index_oracle(with_url=True)}),
        e AS (SELECT *,
                {FETCH_TS_SQL.format(id=i)} AS fetch_ts,
                {HTTP_MEDIA_SQL.format(id=i)} AS mime,
                CAST({HTTP_STATUS_SQL.format(id=i)} AS INT) AS status,
                {WARC_FILENAME_SQL.format(cid="container_id")} AS filename
              FROM cdx)
    """


def _cdxj_index_oracle() -> str:
    """The official line assembled by the SAME shared template the
    Spark side evaluates — byte parity is the point."""
    from pgferry_spark.sources.zipnum import CDXJ_LINE_SQL

    line = CDXJ_LINE_SQL.format(
        urlkey="surt",
        ts="fetch_ts",
        url="url",
        mime="mime",
        status="status",
        digest="payload_md5",
        length="rec_len",
        offset="rec_offset",
        filename="filename",
    )
    return _cdxj_cte() + f"""
        SELECT surt, fetch_ts, {line} AS cdxj_line FROM e
    """


@register("cdxj_index", oracle=_cdxj_index_oracle)
def _cdxj_index(spark, sf):
    """Official CDXJ index lines:
    ``urlkey<SP>timestamp<SP>{json}`` with the public key order (url,
    mime, status, digest, length, offset, filename) over the
    real-parse CDX facts.  Hash-green = every byte of the public wire
    format, including the json escaping, matches the closed-form
    replay.  Digest deviation (md5 hex, not base32-sha1) pinned in
    sources/zipnum.py."""
    from pgferry_spark.sources.zipnum import cdxj_lines

    return cdxj_lines(_cdxj_facts(spark, sf)).select(
        "surt", "fetch_ts", "cdxj_line"
    )


def _cdxj_extract_oracle() -> str:
    """The typed fields directly — what emit ∘ parse must recover."""
    return _cdxj_cte() + """
        SELECT surt AS urlkey, fetch_ts, url, mime, status,
               payload_md5 AS digest,
               rec_len AS "length", rec_offset AS "offset", filename
        FROM e
    """


@register("cdxj_field_extract", oracle=_cdxj_extract_oracle)
def _cdxj_field_extract(spark, sf):
    """The READ side of the official wire format: emit the CDXJ lines,
    parse them back with the real parser (split + from_json + typed
    casts), return the typed fields.  Green = emit ∘ parse recovers
    every field exactly against the closed-form oracle."""
    from pgferry_spark.sources.zipnum import cdxj_lines, cdxj_parse

    return cdxj_parse(
        cdxj_lines(_cdxj_facts(spark, sf)).select("cdxj_line")
    )


def _cdxj_cluster_oracle() -> str:
    """The CDXJ closed-form replay wrapped in the zipnum blocking
    arithmetic over the official line: rank over the total key order,
    block = rank div N, per-block ordered digest."""
    from pgferry_spark.sources.zipnum import CDXJ_LINE_SQL

    line = CDXJ_LINE_SQL.format(
        urlkey="surt",
        ts="fetch_ts",
        url="url",
        mime="mime",
        status="status",
        digest="payload_md5",
        length="rec_len",
        offset="rec_offset",
        filename="filename",
    )
    return _cdxj_cte() + f"""
        , l AS (SELECT surt || ' ' || fetch_ts AS k, {line} AS cdxj_line,
                  CAST(row_number() OVER (ORDER BY surt, fetch_ts,
                       container_id, record_no) - 1 AS BIGINT) AS rn
                FROM e)
        SELECT CAST(rn // 8 AS BIGINT) AS block_no,
               min(k) AS first_key,
               max(k) AS last_key,
               CAST(count(*) AS BIGINT) AS n_lines,
               md5(string_agg(cdxj_line, chr(10) ORDER BY rn)) AS lines_md5
        FROM l GROUP BY 1
    """


@register("cdxj_zipnum_cluster", oracle=_cdxj_cluster_oracle)
def _cdxj_zipnum_cluster(spark, sf):
    """Official-format zipnum blocking CONTENT: the CDXJ
    lines in total key order grouped every-N, per block its first/last
    ``urlkey<SP>timestamp`` key, line count, and the ordered digest of
    every line byte that lands in it — the cdx_zipnum_index discipline
    over the PUBLIC line format.  The physical artifacts
    (gzip members, the 5-column cluster.idx TSV, the firsts-only
    lookup) are pinned in tests/test_warc.py::TestCdxjOfficialFormat."""
    from pgferry_spark.sources.zipnum import (
        cdxj_lines,
        cdxj_zipnum_cluster,
    )

    lines = cdxj_lines(_cdxj_facts(spark, sf)).select(
        "surt", "fetch_ts", "container_id", "record_no", "cdxj_line"
    )
    return cdxj_zipnum_cluster(lines)


def _http_cte() -> str:
    """Shared closed-form replay of the HTTP envelope synthesis: per
    document the status/reason/media/charset classes, the decoded body
    text, the body BYTE length (character length in the single-byte
    decorated charsets, utf-8 bytes otherwise), and the Content-Type
    header width — everything the envelope entries' oracles derive
    from.  record_no is the within-container row number over ALL docs
    (filters apply downstream of it, exactly like the parser)."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL
    from pgferry_spark.sources.httpmsg import (
        HTTP_BODY_LEN_SQL,
        HTTP_BODY_TEXT_SQL,
        HTTP_CHARSET_SQL,
        HTTP_CT_HEADER_SQL,
        HTTP_MEDIA_SQL,
        HTTP_REASON_SQL,
        HTTP_STATUS_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    status = HTTP_STATUS_SQL.format(id="doc_id")
    reason = HTTP_REASON_SQL.format(id="doc_id")
    media = HTTP_MEDIA_SQL.format(id="doc_id")
    charset = HTTP_CHARSET_SQL.format(id="doc_id")
    cth = HTTP_CT_HEADER_SQL.format(id="doc_id")
    body_text = HTTP_BODY_TEXT_SQL.format(id="doc_id", text="text")
    body_len = HTTP_BODY_LEN_SQL.format(
        id="doc_id", text="text", blen="strlen"
    )
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url
                   FROM documents),
        hr AS (SELECT doc_id, (doc_id // 8) AS container_id, url, text,
                 CAST({status} AS INT) AS status,
                 {reason} AS reason,
                 {media} AS content_type,
                 {charset} AS charset,
                 {body_text} AS body_text,
                 CAST({body_len} AS BIGINT) AS body_len,
                 CAST(strlen({cth}) AS BIGINT) AS cth_len
               FROM u),
        hw AS (SELECT *,
                 CAST(row_number() OVER (PARTITION BY container_id
                      ORDER BY doc_id) - 1 AS INT) AS record_no
               FROM hr)
    """


def _cdxj_http_oracle() -> str:
    """The real-capture CDXJ replay: envelope head-length arithmetic
    (the _http_index_oracle formula) + the 241-byte WARC header
    constant (241 + id digits + url octets + payload-length digits,
    pinned empirically against encode_warc) + running record offsets
    over ALL records of the container, filtered to the utf-8 classes
    AFTER the offsets are fixed."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        SURT_DUCK,
        SURT_PORT_SQL,
        SURT_SQL,
        URL_PATH_SQL,
    )
    from pgferry_spark.sources.zipnum import (
        CDXJ_LINE_SQL,
        FETCH_TS_SQL,
        WARC_FILENAME_SQL,
    )

    i = "(container_id * 8 + record_no)"
    head_len = (
        "(15 + strlen(reason) + 16 + cth_len + 18"
        " + length(CAST(body_len AS VARCHAR))"
        " + CASE WHEN status = 301 THEN 18 + strlen(url) ELSE 0 END"
        " + 2)"
    )
    host = HOST_SQL.format(url="url")
    path = URL_PATH_SQL.format(url="url")
    port = SURT_PORT_SQL.format(url="url")
    surt = SURT_SQL.format(host="host", path=path, port=port, **SURT_DUCK)
    line = CDXJ_LINE_SQL.format(
        urlkey="surt",
        ts="fetch_ts",
        url="url",
        mime="content_type",
        status="status",
        digest="payload_md5",
        length="rec_len",
        offset="rec_offset",
        filename="filename",
    )
    return _http_cte() + f"""
        , r AS (SELECT *,
                  CAST({head_len} + body_len AS BIGINT) AS plen
                FROM hw),
        w AS (SELECT *,
                CAST(241 + length(CAST(doc_id AS VARCHAR)) + strlen(url)
                     + length(CAST(plen AS VARCHAR)) AS BIGINT) AS hlen
              FROM r),
        o AS (SELECT *,
                SUM(hlen + plen + 4) OVER (PARTITION BY container_id
                    ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - (hlen + plen + 4) AS rec_offset,
                CAST(hlen + plen + 4 AS BIGINT) AS rec_len
              FROM w),
        e AS (SELECT *, {host} AS host,
                md5(text) AS payload_md5,
                {FETCH_TS_SQL.format(id=i)} AS fetch_ts,
                {WARC_FILENAME_SQL.format(cid="container_id")} AS filename
              FROM o WHERE doc_id % 5 IN (0, 3, 4)),
        e2 AS (SELECT *, {surt} AS surt FROM e)
        SELECT surt, fetch_ts, {line} AS cdxj_line FROM e2
    """


@register("cdxj_http_index", oracle=_cdxj_http_oracle)
def _cdxj_http_index(spark, sf):
    """CDXJ over REAL HTTP captures — the
    full-fidelity public-index build: one fused walk
    (http_capture_index) parses WARC framing AND the HTTP envelope
    from real bytes, so the line's status/mime are the server's, the
    digest is the §5.9 BODY digest, and (offset, length) address the
    real record span.  Restricted to the utf-8/undeclared charset
    classes — the md5-replayable ones (the http_body_extract oracle
    precedent; single-byte-charset body bytes have no VARCHAR spelling
    in DuckDB) — via the PARSED charset column, not synth knowledge.
    Oracle: the envelope head-length arithmetic + the 241-byte WARC
    header constant (empirically pinned) + the shared line template."""
    from pgferry_spark.operators.domains import surt_keys
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_capture_index,
    )
    from pgferry_spark.sources.zipnum import (
        FETCH_TS_SQL,
        WARC_FILENAME_SQL,
        cdxj_lines,
    )

    idx = http_capture_index(
        attach_warc_http(_docs_with_urls(spark, sf))
    )
    cdx = surt_keys(idx, url_col="target_uri")
    i = "(container_id * 8 + record_no)"
    cdx = (
        cdx.withColumn("fetch_ts", F.expr(FETCH_TS_SQL.format(id=i)))
        .withColumn(
            "filename",
            F.expr(WARC_FILENAME_SQL.format(cid="container_id")),
        )
        .filter(F.col("charset").isin("", "utf-8"))
    )
    return cdxj_lines(cdx).select("surt", "fetch_ts", "cdxj_line")


def _index_routed_retrieval_oracle() -> str:
    """Closed-form replay of the retrieval audit: per md5-replayable
    capture its urlkey, fetch timestamp, and body digest — with
    rehydrated = digest and ok = true, because a correct
    publish→lookup→ranged-read route returns exactly the bytes the
    full scan digested.  Any routing, offset, or framing defect on the
    Spark side breaks the hash."""
    from pgferry_spark.operators.domains import (
        HOST_SQL,
        SURT_DUCK,
        SURT_PORT_SQL,
        SURT_SQL,
        URL_PATH_SQL,
    )
    from pgferry_spark.sources.zipnum import FETCH_TS_SQL

    i = "(container_id * 8 + record_no)"
    host = HOST_SQL.format(url="url")
    path = URL_PATH_SQL.format(url="url")
    port = SURT_PORT_SQL.format(url="url")
    surt = SURT_SQL.format(host="host", path=path, port=port, **SURT_DUCK)
    return _http_cte() + f"""
        , e AS (SELECT *, {host} AS host,
                  md5(text) AS payload_md5,
                  {FETCH_TS_SQL.format(id=i)} AS fetch_ts
                FROM hw WHERE doc_id % 5 IN (0, 3, 4))
        SELECT {surt} AS urlkey, fetch_ts,
               payload_md5 AS digest, payload_md5 AS rehydrated,
               true AS ok
        FROM e
    """


@register("index_routed_retrieval", oracle=_index_routed_retrieval_oracle)
def _index_routed_retrieval(spark, sf):
    """The 100 TB retrieval story END-TO-END: real WARC shard files published under the official
    crawl-data basenames, the real zipnum layout (range-partitioned
    shards + merged cluster.idx) published over the CDXJ lines, then
    the production access path — every distinct urlkey routed through
    zipnum_bulk_lookup (cluster bisect → ONE inflated block per task
    per block) → cdxj_parse → index_routed_rehydrate (open the named
    shard, seek offset, read exactly length bytes, parse the single
    record + HTTP envelope from the slice alone, md5 the §5.9 body
    span).  ``ok`` certifies the published index routes to byte-exact
    payloads: rehydrated digest == the digest the full-scan walk wrote
    into the line.  Oracle replays (urlkey, fetch_ts, digest) in
    closed form with rehydrated = digest and ok = true — one
    hash-green gate over the whole publish→lookup→ranged-read seam.
    Artifacts live in a per-invocation temp dir (the local stand-in
    for the object store); the index/capture walk is persisted until
    the lookup side is built, and only slim audit rows return."""
    import os
    import tempfile

    from pgferry_spark.operators.domains import surt_keys
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_capture_index,
    )
    from pgferry_spark.sources.warc import write_warc_files
    from pgferry_spark.sources.zipnum import (
        FETCH_TS_SQL,
        WARC_FILENAME_SQL,
        cdxj_lines,
        cdxj_parse,
        index_routed_rehydrate,
        publish_zipnum_sharded,
        read_zipnum_lines,
        zipnum_bulk_lookup,
    )

    from pgferry_spark.utils import persisted

    root = tempfile.mkdtemp(prefix="pgferry_retrieval_")
    warc_dir = os.path.join(root, "warc")
    idx_dir = os.path.join(root, "zipnum")
    containers = attach_warc_http(_docs_with_urls(spark, sf))
    with persisted(containers):
        # both publish actions run inside the scope: the container
        # build happens once, no cache residue survives the entry
        write_warc_files(
            containers,
            warc_dir,
            prefix="CC-MAIN-20240815000000-20240815235959-",
            id_width=5,
        )
        idx = http_capture_index(containers)
        cdx = surt_keys(idx, url_col="target_uri")
        i = "(container_id * 8 + record_no)"
        cdx = (
            cdx.withColumn("fetch_ts", F.expr(FETCH_TS_SQL.format(id=i)))
            .withColumn(
                "filename",
                F.expr(WARC_FILENAME_SQL.format(cid="container_id")),
            )
            .filter(F.col("charset").isin("", "utf-8"))
        )
        lines = cdxj_lines(cdx).select(
            "surt", "fetch_ts", "container_id", "record_no", "cdxj_line"
        )
        cluster = publish_zipnum_sharded(lines, idx_dir, n_shards=2)
    # the lookup side reads only the published artifacts: the key
    # census comes from the DISTRIBUTED read-back of the index itself
    # (read_zipnum_lines — bounded ranged block reads, nothing
    # recomputed from the corpus), then every distinct urlkey routes
    # through the production lookup
    keys = (
        read_zipnum_lines(spark, cluster, idx_dir)
        .select(
            F.expr("split_part(cdxj_line, ' ', 1)").alias("urlkey")
        )
        .distinct()
    )
    hits = zipnum_bulk_lookup(keys, cluster, idx_dir)
    return index_routed_rehydrate(cdxj_parse(hits), warc_dir)


def _cdx_closest_capture_oracle() -> str:
    """The closest election replayed over the shared CDXJ replay CTE:
    same abs-diff metric, same deterministic tiebreak."""
    return _cdxj_cte() + """
        , ranked AS (SELECT *,
            row_number() OVER (PARTITION BY surt ORDER BY
                abs(epoch(try_strptime(fetch_ts, '%Y%m%d%H%M%S'))
                    - epoch(strptime('20240815120000',
                                     '%Y%m%d%H%M%S'))) ASC NULLS LAST,
                fetch_ts, container_id, record_no) AS __rn
          FROM e)
        SELECT surt, fetch_ts, container_id, record_no,
               rec_offset, rec_len, status, mime
        FROM ranked WHERE __rn = 1
    """


@register("cdx_closest_capture", oracle=_cdx_closest_capture_oracle)
def _cdx_closest_capture(spark, sf):
    """The wayback CDX API ``closest=<ts>`` query: per
    urlkey elect the capture nearest the probe timestamp
    20240815120000 — the replay UI's core lookup.  One window
    partitioned by urlkey over the slim CDX facts (per-key capture
    counts are revisit-bounded, never corpus-sized); deterministic
    tiebreak (earlier ts, then container/record address) so the
    election is oracle-replayable.  Multi-capture keys exist by
    synthesis (URL class 2 collapses many docs onto one urlkey), so
    the election is substantive, not an identity."""
    from pgferry_spark.sources.zipnum import cdx_closest_capture

    facts = _cdxj_facts(spark, sf).select(
        "surt", "fetch_ts", "container_id", "record_no",
        "rec_offset", "rec_len", "status", "mime",
    )
    return cdx_closest_capture(facts, "20240815120000")


def _capture_history(spark, sf):
    """Deterministic per-URL capture history: 1 + doc_id % 4 captures
    at 2-hour strides from 2024-08-15T12:00:00Z, digest stepping
    whenever (doc_id + i) div 3 increments — the shared input of the
    recrawl_change_rate and crawl_budget_allocate entries."""
    from pgferry_spark.operators.domains import normalize_urls

    base = 1723723200
    u = normalize_urls(_docs_with_urls(spark, sf))
    return (
        u.select("nurl", "doc_id", "text")
        .withColumn(
            "i", F.explode(F.sequence(F.lit(0), F.col("doc_id") % 4))
        )
        .withColumn("ts_s", F.lit(base) + F.col("i") * 7200)
        .withColumn(
            "digest",
            F.md5(
                F.concat(
                    F.col("text"),
                    F.expr("CAST((doc_id + i) div 3 AS STRING)"),
                )
            ),
        )
        .select("nurl", "ts_s", "digest")
    )


def _recrawl_change_rate_oracle() -> str:
    """Synthesis + lag adjacency + the CGM estimator, replayed: ln is
    the natural log in BOTH engines' `ln`; round-6 at the edge; floor
    before the BIGINT cast (Spark truncates, DuckDB rounds)."""
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
        WITH u AS (SELECT doc_id, source, text, {url} AS url
                   FROM documents),
        hh AS (SELECT *, {host} AS host FROM u),
        q AS (SELECT *, {qc} AS __q FROM hh),
        nn AS (SELECT *, {nurl} AS nurl FROM q),
        h AS (SELECT nurl,
                1723723200 + i * 7200 AS ts_s,
                md5(text || CAST((doc_id + i) // 3 AS STRING)) AS digest
              FROM nn, LATERAL (SELECT unnest(range(0,
                   CAST(doc_id % 4 AS INT) + 1)) AS i) gen),
        c AS (SELECT *,
                CASE WHEN lag(digest) OVER
                       (PARTITION BY nurl ORDER BY ts_s, digest)
                     IS NOT NULL
                     AND digest <> lag(digest) OVER
                       (PARTITION BY nurl ORDER BY ts_s, digest)
                     THEN 1 ELSE 0 END AS __chg
              FROM h),
        g AS (SELECT nurl,
                count(*) AS n_captures,
                sum(__chg) AS n_changes,
                max(ts_s) - min(ts_s) AS span_s,
                max(ts_s) AS __last
              FROM c GROUP BY nurl)
        SELECT nurl,
               CAST(n_captures AS BIGINT) AS n_captures,
               CAST(n_changes AS BIGINT) AS n_changes,
               CAST(span_s AS BIGINT) AS span_s,
               CASE WHEN n_captures - 1 > 0 AND span_s > 0 THEN
                 round(-ln((n_captures - 1 - n_changes + 0.5)
                           / (n_captures - 1 + 0.5))
                       * (n_captures - 1) / span_s * 86400.0, 6) + 0.0
               END AS change_rate_per_day,
               CASE WHEN n_captures - 1 > 0 THEN
                 CAST(floor(span_s / greatest(n_changes, 1)) AS BIGINT)
               END AS est_interval_s,
               CAST(__last + coalesce(
                 CASE WHEN n_captures - 1 > 0 THEN
                   CAST(floor(span_s / greatest(n_changes, 1)) AS BIGINT)
                 END, 604800) AS BIGINT) AS next_due_s
        FROM g
    """


@register("recrawl_change_rate", oracle=_recrawl_change_rate_oracle)
def _recrawl_change_rate(spark, sf):
    """Change-frequency estimation for recrawl scheduling
    — the Cho & Garcia-Molina bias-corrected estimator (ACM TOIT 3(3)
    2003) over a deterministic capture history: each document yields
    1 + doc_id % 4 captures at 2-hour strides, and the payload digest
    steps whenever (doc_id + i) div 3 increments — so histories mix
    never-changed, sometimes-changed and always-changing pages, and
    URL class 2 merges several documents onto one nurl (multi-writer
    history with the (ts, digest) tiebreak exercised).  One lag window
    + one map-side-combinable aggregate per URL; oracle replays the
    synthesis, the adjacency, and the estimator arithmetic in closed
    form (round-6 both sides)."""
    from pgferry_spark.operators.domains import recrawl_change_rate

    return recrawl_change_rate(_capture_history(spark, sf))


def _sitemap_lastmod_oracle() -> str:
    from pgferry_spark.operators.domains import (
        SITEMAP_FULL_SYNTH_SQL,
        SITEMAP_LASTMOD_RE,
        SITEMAP_LOC_RE,
        SITEMAP_URL_BLOCK_RE,
    )

    synth = SITEMAP_FULL_SYNTH_SQL.format(domain="domain")
    return _domain_cte() + f"""
        , dd AS (SELECT DISTINCT domain FROM d),
        sm AS (SELECT domain, {synth} AS sitemap_xml FROM dd),
        bl AS (SELECT domain,
                 CAST(generate_subscripts(
                   regexp_extract_all(sitemap_xml,
                     '{SITEMAP_URL_BLOCK_RE}', 1), 1) - 1 AS INT)
                   AS loc_no,
                 unnest(regexp_extract_all(sitemap_xml,
                   '{SITEMAP_URL_BLOCK_RE}', 1)) AS __b
               FROM sm)
        SELECT domain, loc_no,
               regexp_extract(__b, '{SITEMAP_LOC_RE}', 1) AS loc_url,
               regexp_extract(__b, '{SITEMAP_LASTMOD_RE}', 1) AS lastmod
        FROM bl
    """


@register("sitemap_lastmod_entries", oracle=_sitemap_lastmod_oracle)
def _sitemap_lastmod_entries(spark, sf):
    """Full-entry sitemap parse: every <url> block yields
    (domain, loc_no, loc_url, lastmod) with the lastmod paired
    BLOCK-SCOPED (a flat regex would cross-pair fields between
    entries); the synthesis exercises both documented lastmod shapes
    (W3C date, full datetime) and its absence.  The protocol field a
    changed-since recrawl keys off.  Map-only; oracle replays blocks
    and per-block extracts in closed form."""
    from pgferry_spark.operators.domains import (
        SITEMAP_FULL_SYNTH_SQL,
        parse_sitemap_entries,
        with_host_domain,
    )

    d = with_host_domain(_docs_with_urls(spark, sf))
    dm = (
        d.select("domain")
        .dropDuplicates()
        .withColumn(
            "sitemap_xml",
            F.expr(SITEMAP_FULL_SYNTH_SQL.format(domain="domain")),
        )
    )
    return parse_sitemap_entries(dm)


def _sitemap_changed_since_oracle() -> str:
    from pgferry_spark.operators.domains import (
        SITEMAP_FULL_SYNTH_SQL,
        SITEMAP_LASTMOD_RE,
        SITEMAP_LOC_RE,
        SITEMAP_URL_BLOCK_RE,
    )

    synth = SITEMAP_FULL_SYNTH_SQL.format(domain="domain")
    return _domain_cte() + f"""
        , dd AS (SELECT DISTINCT domain FROM d),
        sm AS (SELECT domain, {synth} AS sitemap_xml FROM dd),
        bl AS (SELECT domain,
                 unnest(regexp_extract_all(sitemap_xml,
                   '{SITEMAP_URL_BLOCK_RE}', 1)) AS __b
               FROM sm),
        en AS (SELECT domain,
                 regexp_extract(__b, '{SITEMAP_LOC_RE}', 1) AS loc_url,
                 regexp_extract(__b, '{SITEMAP_LASTMOD_RE}', 1)
                   AS lastmod
               FROM bl),
        ep AS (SELECT domain, loc_url,
                 CAST(epoch(coalesce(
                   try_strptime(lastmod, '%Y-%m-%dT%H:%M:%SZ'),
                   try_strptime(lastmod, '%Y-%m-%d')))
                   AS BIGINT) AS lastmod_s
               FROM en),
        cp AS (SELECT 'https://' || domain || p AS loc_url,
                 CAST(1723723200 - (length(domain) % 5) * 86400
                      AS BIGINT) AS last_capture_s
               FROM dd, LATERAL (SELECT unnest(
                 ['/guide', '/news']) AS p) pp)
        SELECT ep.domain, ep.loc_url, ep.lastmod_s,
               cp.last_capture_s,
               (cp.last_capture_s IS NULL OR ep.lastmod_s IS NULL
                OR ep.lastmod_s > cp.last_capture_s) AS fetch
        FROM ep LEFT JOIN cp ON ep.loc_url = cp.loc_url
    """


@register("sitemap_changed_since", oracle=_sitemap_changed_since_oracle)
def _sitemap_changed_since(spark, sf):
    """The sitemaps.org changed-since decision: announced
    URLs split into fetch/skip against per-URL capture watermarks —
    fetch when new, lastmod-less, or lastmod postdates the capture;
    skip only when the site's own declaration proves freshness.
    Captures synthesize for /guide and /news (watermark = 2024-08-15
    noon minus (domain length % 5) days; /faq stays uncaptured = the
    new-URL branch), so every decision arm occurs and both lastmod
    shapes parse to epoch.  One left equi-join; oracle replays the
    parse (try_strptime twin) and the verdict in closed form."""
    from pgferry_spark.operators.domains import (
        SITEMAP_FULL_SYNTH_SQL,
        parse_sitemap_entries,
        sitemap_changed_since,
        with_host_domain,
    )

    d = with_host_domain(_docs_with_urls(spark, sf))
    dm = (
        d.select("domain")
        .dropDuplicates()
        .withColumn(
            "sitemap_xml",
            F.expr(SITEMAP_FULL_SYNTH_SQL.format(domain="domain")),
        )
    )
    entries = parse_sitemap_entries(dm)
    base = 1723723200  # 2024-08-15T12:00:00Z
    caps = (
        dm.select("domain")
        .withColumn(
            "__p", F.explode(F.array(F.lit("/guide"), F.lit("/news")))
        )
        .select(
            F.concat(
                F.lit("https://"), F.col("domain"), F.col("__p")
            ).alias("loc_url"),
            (
                F.lit(base)
                - (F.length("domain") % 5) * 86400
            ).alias("last_capture_s"),
        )
    )
    return sitemap_changed_since(entries, caps)


def _crawl_budget_allocate_oracle() -> str:
    """Rates chain nested as a CTE, then the integer largest-remainder
    replay: micro-unit quantization, base = du*B // tu, remainder
    seats by (du*B % tu) desc with the site tiebreak."""
    B = 1_000_000
    return f"""
        WITH r AS ({_recrawl_change_rate_oracle()}),
        s AS (SELECT split_part(nurl, '/', 1) AS site,
                CAST(round(coalesce(change_rate_per_day, 1.0/7) * 1e6)
                     AS BIGINT) AS mu
              FROM r),
        d AS (SELECT site, CAST(count(*) AS BIGINT) AS n_urls,
                CAST(sum(mu) AS BIGINT) AS du
              FROM s GROUP BY site),
        t AS (SELECT CAST(sum(du) AS BIGINT) AS tu,
                     CAST(count(*) AS BIGINT) AS ns FROM d),
        j AS (SELECT d.*, t.tu,
                CASE WHEN t.tu = 0 THEN 1 ELSE du END * {B}
                  // CASE WHEN t.tu = 0 THEN t.ns ELSE t.tu END AS base,
                CASE WHEN t.tu = 0 THEN 1 ELSE du END * {B}
                  % CASE WHEN t.tu = 0 THEN t.ns ELSE t.tu END AS rem
              FROM d CROSS JOIN t),
        lf AS (SELECT {B} - CAST(sum(base) AS BIGINT) AS leftover
               FROM j),
        rk AS (SELECT j.*, lf.leftover,
                 row_number() OVER (ORDER BY rem DESC, site ASC)
                   AS rk
               FROM j CROSS JOIN lf)
        SELECT site, n_urls, du AS demand_micro,
               CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_budget
        FROM rk
    """


@register("crawl_budget_allocate", oracle=_crawl_budget_allocate_oracle)
def _crawl_budget_allocate(spark, sf):
    """Fetch-budget allocation: 10^6 fetches apportioned
    across sites by largest remainder over integer micro-unit change
    demand — allocations sum to the budget EXACTLY (the invariant the
    integer arithmetic exists for; float summation order would make
    near-tie remainder seats engine-dependent).  Composes the CGM
    change-rate estimates; unobservable URLs demand the default
    weekly cadence.  One aggregate + two broadcast scalar joins + one
    window over the bounded site table."""
    from pgferry_spark.operators.domains import (
        crawl_budget_allocate,
        recrawl_change_rate,
    )

    rates = recrawl_change_rate(_capture_history(spark, sf))
    rates = rates.withColumn(
        "site", F.expr("split_part(nurl, '/', 1)")
    )
    return crawl_budget_allocate(rates, 1_000_000)


def _cdxj_host_sql() -> str:
    """The shared lowercased-host extraction over the e-CTE's url."""
    from pgferry_spark.operators.domains import HOST_SQL

    return HOST_SQL.format(url="url")


def _cc_index_table_oracle() -> str:
    """The official column names over the same closed forms; the one
    non-string is fetch_time (strptime of the shared 14-digit ts)."""
    from pgferry_spark.sources.httpmsg import HTTP_CHARSET_SQL

    i = "(container_id * 8 + record_no)"
    charset = HTTP_CHARSET_SQL.format(id=i)
    return _cdxj_cte() + f"""
        SELECT surt AS url_surtkey, url,
               {_cdxj_host_sql()} AS url_host_name,
               strptime(fetch_ts, '%Y%m%d%H%M%S') AS fetch_time,
               status AS fetch_status,
               payload_md5 AS content_digest,
               mime AS content_mime_type,
               {charset} AS content_charset,
               filename AS warc_filename,
               rec_offset AS warc_record_offset,
               rec_len AS warc_record_length,
               '1723000000000.0' AS warc_segment,
               'CC-MAIN-2024-33' AS crawl
        FROM e
    """


def _cc_index_host_stats_oracle() -> str:
    return f"""
        WITH t AS ({_cc_index_table_oracle()})
        SELECT url_host_name,
               CAST(count(*) AS BIGINT) AS n_captures,
               CAST(sum(CASE WHEN fetch_status = 200 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ok,
               CAST(count(DISTINCT content_mime_type) AS BIGINT)
                 AS n_mimes,
               CAST(sum(warc_record_length) AS BIGINT) AS stored_bytes,
               min(fetch_time) AS first_fetch,
               max(fetch_time) AS last_fetch
        FROM t GROUP BY url_host_name
    """


@register("cc_index_host_stats", oracle=_cc_index_host_stats_oracle)
def _cc_index_host_stats(spark, sf):
    """The consumer story for the official schema: the
    first query every cc-index-table user runs — per-host capture
    census over the OFFICIAL column names (captures, ok_rate, distinct
    media types, total stored bytes, earliest/latest fetch).  One
    aggregation shuffle on url_host_name; at 100 TB this is the
    athena-style rollup the public table exists to serve."""
    t = _cc_index_table(spark, sf)
    return t.groupBy("url_host_name").agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.sum((F.col("fetch_status") == 200).cast("int")).alias("n_ok"),
        F.count_distinct("content_mime_type").alias("n_mimes"),
        F.sum("warc_record_length").alias("stored_bytes"),
        F.min("fetch_time").alias("first_fetch"),
        F.max("fetch_time").alias("last_fetch"),
    )


def _cdx11_index_oracle() -> str:
    """The classic line assembled by the SAME shared template."""
    from pgferry_spark.sources.zipnum import CDX11_LINE_SQL

    line = CDX11_LINE_SQL.format(
        urlkey="surt",
        ts="fetch_ts",
        url="url",
        mime="mime",
        status="status",
        digest="payload_md5",
        length="rec_len",
        offset="rec_offset",
        filename="filename",
    )
    return _cdxj_cte() + f"""
        SELECT surt, fetch_ts, {line} AS cdx11_line FROM e
    """


@register("cdx11_index", oracle=_cdx11_index_oracle)
def _cdx11_index(spark, sf):
    """Classic 11-field CDX lines: the ' CDX N b a m s k r
    M S V g' format the wayback CDX server speaks — urlkey, timestamp,
    original url, mime, status, digest, '-' redirect, '-' meta tags,
    record length, record offset, filename, space-separated, over the
    same real-parse CDX facts as cdxj_index.  The parse round-trip
    (cdx11_parse) is pytest-pinned."""
    from pgferry_spark.sources.zipnum import cdx11_lines

    return cdx11_lines(_cdxj_facts(spark, sf)).select(
        "surt", "fetch_ts", "cdx11_line"
    )


@register("cc_index_table", oracle=_cc_index_table_oracle)
def _cc_index_table(spark, sf):
    """cc-index-table columnar projection: the same capture facts under the OFFICIAL parquet
    column names CommonCrawl publishes (url_surtkey, url,
    url_host_name, fetch_time, fetch_status, content_digest,
    content_mime_type, content_charset, warc_filename,
    warc_record_offset, warc_record_length, warc_segment, crawl) — the
    join target a consumer of the public table points at.  Map-only
    rename/cast over the CDX facts; fetch_time is a real timestamp."""
    from pgferry_spark.sources.httpmsg import HTTP_CHARSET_SQL

    i = "(container_id * 8 + record_no)"
    f = _cdxj_facts(spark, sf)
    return f.select(
        F.col("surt").alias("url_surtkey"),
        F.col("target_uri").alias("url"),
        F.col("host").alias("url_host_name"),
        F.to_timestamp("fetch_ts", "yyyyMMddHHmmss").alias("fetch_time"),
        F.col("status").alias("fetch_status"),
        F.col("payload_md5").alias("content_digest"),
        F.col("mime").alias("content_mime_type"),
        F.expr(HTTP_CHARSET_SQL.format(id=i)).alias("content_charset"),
        F.col("filename").alias("warc_filename"),
        F.col("rec_offset").alias("warc_record_offset"),
        F.col("rec_len").alias("warc_record_length"),
        F.lit("1723000000000.0").alias("warc_segment"),
        F.lit("CC-MAIN-2024-33").alias("crawl"),
    )


def _warc_captures(spark, sf):
    """Capture stream with deterministic RE-CAPTURES for the revisit
    entries: every doc_id % 4 == 1 document is fetched a second time
    (capture_id = doc_id + 10^7, same URL, same bytes) — the unchanged
    re-crawl a revisit record exists for."""
    d = _docs_with_urls(spark, sf).select(
        F.col("doc_id").alias("capture_id"), "url", "text"
    )
    re_caps = (
        _docs_with_urls(spark, sf)
        .filter(F.col("doc_id") % 4 == 1)
        .select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("capture_id"),
            "url", "text",
        )
    )
    return d.unionAll(re_caps)


def _warc_captures_cte() -> str:
    """Shared capture-stream replay: documents + the deterministic
    doc_id % 4 == 1 re-captures at capture_id = doc_id + 10^7."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        caps AS (SELECT doc_id AS capture_id, url, text FROM u
                 UNION ALL
                 SELECT doc_id + 10000000 AS capture_id, url, text
                 FROM u WHERE doc_id % 4 = 1),
        k AS (SELECT *, min(capture_id) OVER (PARTITION BY md5(text))
                AS keeper
              FROM caps)
    """


def _warc_dedup_manifest_oracle() -> str:
    """Keeper election replayed as a window-min over md5(text) (the
    revisit CTE), container/record addresses from the closed-form
    div-8 arithmetic, keeper address recovered by joining the keeper
    capture id back onto its own numbered row."""
    return _warc_captures_cte() + """
        , r AS (SELECT capture_id, url, text, keeper,
                 (capture_id // 8) AS container_id,
                 CAST(row_number() OVER (PARTITION BY (capture_id // 8)
                      ORDER BY capture_id) - 1 AS INT) AS record_no
               FROM k),
        kk AS (SELECT capture_id AS kid, container_id AS keeper_container,
                      record_no AS keeper_record
               FROM r)
        SELECT r.container_id, r.record_no, r.url AS target_uri,
               md5(r.text) AS payload_md5,
               (r.capture_id = r.keeper) AS is_keeper,
               kk.keeper_container, kk.keeper_record
        FROM r JOIN kk ON kk.kid = r.keeper
    """


@register("warc_dedup_manifest", oracle=_warc_dedup_manifest_oracle)
def _warc_dedup_manifest(spark, sf):
    """Index-level exact dedup BEFORE any extraction:
    warc_record_index carries payload_md5 computed in the same
    parse pass, so electing one keeper per digest and emitting the
    skip-list manifest (every capture → its keeper's (container,
    record) address) costs one 16-byte-keyed aggregate + a slim join —
    no second container read, no payload bytes shuffled.  At 100 TB
    this manifest IS the dedup: extraction jobs range-read keepers
    only.  Keeper = lexicographic min (container_id, record_no), an
    AGGREGATE election (the hot-line-safe line_dedup pattern — no
    window over a possibly-hot digest).  The capture stream carries
    deterministic re-captures (doc_id % 4 == 1 fetched twice), so both
    polarities exist; the oracle replays the closed-form container
    arithmetic + a window-min over md5(text)."""
    from pgferry_spark.sources.warc import attach_warc, warc_record_index

    idx = warc_record_index(
        attach_warc(_warc_captures(spark, sf), id_col="capture_id")
    )
    keepers = idx.groupBy("payload_md5").agg(
        F.min(F.struct("container_id", "record_no")).alias("__k")
    )
    m = idx.join(keepers, "payload_md5")
    return m.select(
        "container_id",
        "record_no",
        "target_uri",
        "payload_md5",
        (
            (F.col("container_id") == F.col("__k.container_id"))
            & (F.col("record_no") == F.col("__k.record_no"))
        ).alias("is_keeper"),
        F.col("__k.container_id").alias("keeper_container"),
        F.col("__k.record_no").alias("keeper_record"),
    )


def _frontier_bloom_oracle() -> str:
    """The bloom bit table replayed bit-for-bit: salted md5 60-bit
    hash (the sketches.py _hash60 twin) over the shared nurl
    templates."""
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
    h = "('0x' || substr(md5('bf' || j || ':' || nurl), 1, 15))::BIGINT"
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        hh AS (SELECT *, {host} AS host FROM u),
        q AS (SELECT *, {qc} AS __q FROM hh),
        n AS (SELECT doc_id, {nurl} AS nurl FROM q),
        crawled AS (SELECT DISTINCT nurl FROM n WHERE doc_id % 2 = 0),
        cand AS (SELECT DISTINCT nurl FROM n),
        bits AS (SELECT DISTINCT CAST({h} % 8192 AS INT) AS bit
                 FROM crawled, unnest([0,1,2,3,4]) AS u2(j)),
        cells AS (SELECT nurl AS key, CAST({h} % 8192 AS INT) AS bit
                  FROM cand, unnest([0,1,2,3,4]) AS u3(j)),
        probe AS (SELECT key,
                    min(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END) = 1
                      AS maybe_present
                  FROM cells LEFT JOIN bits USING (bit) GROUP BY 1)
        SELECT p.key, p.maybe_present,
               EXISTS (SELECT 1 FROM crawled c WHERE c.nurl = p.key) AS seen
        FROM probe p
    """


@register("frontier_bloom_gate", oracle=_frontier_bloom_oracle)
def _frontier_bloom_gate(spark, sf):
    """Two-tier frontier seen-set: at 100 TB
    the frontier's anti-join against the crawled URL index is the
    scale bottleneck Bloom pre-filtering exists for — ship a bounded
    bit table (8192 bits here; GBs at web scale, still broadcastable),
    drop the definite-unseens map-side, and reserve the exact
    (bucketed, zero-corpus-exchange) anti-join for the maybe-seen
    survivors.  No false negatives by construction, so the gate never
    re-crawls a crawled URL's worth of work downstream.  The entry
    probes every candidate nurl against bits built from the crawled
    half (doc_id % 2 == 0) and carries the exact truth column so the
    false-positive rate is measurable; the oracle replays the salted
    md5 hash bit-for-bit."""
    from pgferry_spark.operators.domains import attach_urls, normalize_urls
    from pgferry_spark.operators.sketches import bloom_bits, bloom_probe

    d = _t(spark, sf, "documents")
    crawled = (
        normalize_urls(attach_urls(d.filter("doc_id % 2 = 0")))
        .select("nurl")
        .dropDuplicates()
    )
    cand = (
        normalize_urls(attach_urls(d)).select("nurl").dropDuplicates()
    )
    bits = bloom_bits(crawled, "nurl", num_bits=8192, num_hashes=5)
    probed = bloom_probe(bits, cand, "nurl", num_bits=8192, num_hashes=5)
    truth = crawled.select(F.col("nurl").alias("key")).withColumn(
        "seen", F.lit(True)
    )
    return probed.join(truth, "key", "left").select(
        "key",
        "maybe_present",
        F.coalesce("seen", F.lit(False)).alias("seen"),
    )


def _wet_index_oracle() -> str:
    """Closed-form byte arithmetic for the WET conversion index: the
    conversion header template is 168 bytes + twice the doc_id digits
    (record id ``conv-<id>`` + the Refers-To pointer) + URI octets +
    Content-Length digits; every offset is shifted by the container's
    warcinfo leader record, whose length is a constant (fixed manifest
    payload + fixed URI) plus the container_id digits.  The Spark side
    PARSES the exporter's real bytes, so green means export framing and
    arithmetic agree to the byte."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL
    from pgferry_spark.sources.warc import WET_INFO_PAYLOAD, WET_INFO_URI

    # warcinfo record: version line 10 + 'WARC-Type: warcinfo' 21 +
    # 'WARC-Record-ID: <urn:uuid:info-{cid}>' 34+digits + target-uri
    # line 19+len(uri) + date line 33 + content-length line
    # 18+len(str(plen)) + blank 2 + payload + trailing CRLFCRLF 4
    info_plen = len(WET_INFO_PAYLOAD)
    info_const = (
        10 + 21 + 34 + 19 + len(WET_INFO_URI) + 33
        + 18 + len(str(info_plen)) + 2 + info_plen + 4
    )
    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        r AS (SELECT doc_id,
                (doc_id // 8) AS container_id,
                url, text,
                CAST(strlen(text) AS BIGINT) AS plen,
                CAST(168 + 2 * length(CAST(doc_id AS VARCHAR)) + strlen(url)
                     + length(CAST(strlen(text) AS VARCHAR)) AS BIGINT)
                  AS hlen
              FROM u),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) AS INT) AS record_no,
                CAST({info_const}
                     + length(CAST(container_id AS VARCHAR)) AS BIGINT)
                  + SUM(hlen + plen + 4) OVER (PARTITION BY container_id
                     ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - (hlen + plen + 4) AS rec_offset
              FROM r)
        SELECT container_id, record_no,
               CAST(rec_offset AS BIGINT) AS rec_offset,
               CAST(hlen + plen + 4 AS BIGINT) AS rec_len,
               CAST(rec_offset + hlen AS BIGINT) AS payload_offset,
               CAST(plen AS BIGINT) AS payload_len,
               md5(text) AS payload_md5,
               'conversion' AS warc_type,
               url AS target_uri
        FROM w
    """


@register("wet_conversion_index", oracle=_wet_index_oracle)
def _wet_conversion_index(spark, sf):
    """WET export + index (the CommonCrawl
    EXTRACTED-TEXT companion format): documents are re-published as WET
    containers (a warcinfo leader record + one ``conversion`` record
    per page carrying WARC-Refers-To back at the original capture),
    then the UNCHANGED warc_record_index parses the emitted bytes —
    WET is ISO 28500 framing, so the ingest stack serves it for free.
    The oracle replays every offset as closed-form header arithmetic
    (the warcinfo leader is a per-container constant shift; each
    conversion header adds the Refers-To line), so hash-green means
    the EXPORTER's bytes and the arithmetic agree to the byte — the
    publication-side twin of the warc_record_index ingest proof."""
    from pgferry_spark.sources.warc import warc_record_index, wet_export

    idx = warc_record_index(wet_export(_docs_with_urls(spark, sf)))
    return idx.filter(F.col("warc_type") == "conversion")


def _wet_text_oracle() -> str:
    """The consumption proof: the ORIGINAL text, keyed by the WET
    record geometry (warcinfo is record 0, conversions 1..n in doc
    order)."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents)
        SELECT (doc_id // 8) AS container_id,
               CAST(row_number() OVER (
                    PARTITION BY (doc_id // 8)
                    ORDER BY doc_id) AS INT) AS record_no,
               url AS target_uri, text
        FROM u
    """


# gzip-member WET: identical closed-form oracle — recovery must
# be byte-exact through the deflate round-trip too
@register("wet_gzip_extract", oracle=_wet_text_oracle)
def _wet_gzip_extract(spark, sf):
    """The actual CommonCrawl WET transport (.warc.wet.gz — one deflate
    member per record, warcinfo leader included): export with
    gzip_members=True, then recover every conversion payload through
    the SAME member walk the gzip WARC path uses (capped inflate,
    bounds-checked). Oracle = the ORIGINAL documents text — green means
    byte-exact recovery through gzip + WET framing combined."""
    from pgferry_spark.sources.warc import warc_payload_extract, wet_export

    return warc_payload_extract(
        wet_export(_docs_with_urls(spark, sf), gzip_members=True)
    ).filter(F.col("record_no") >= 1)


def _wat_docs(spark, sf):
    from pgferry_spark.sources.warc import WAT_JSON_SQL

    return _docs_with_urls(spark, sf).withColumn(
        "wat_json",
        F.expr(
            WAT_JSON_SQL.format(url="url", text="text", blen="octet_length")
        ),
    )


def _wat_index_oracle() -> str:
    """WET arithmetic with the metadata header width: base 166
    ('metadata' is two bytes narrower than 'conversion') + twice the
    doc_id digits + URI octets + Content-Length digits, the payload
    being the shared-template JSON envelope; warcinfo shift as in
    :func:`_wet_index_oracle` with the WAT manifest constant."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL
    from pgferry_spark.sources.warc import (
        WAT_INFO_PAYLOAD,
        WAT_JSON_SQL,
        WET_INFO_URI,
    )

    info_plen = len(WAT_INFO_PAYLOAD)
    info_const = (
        10 + 21 + 34 + 19 + len(WET_INFO_URI) + 33
        + 18 + len(str(info_plen)) + 2 + info_plen + 4
    )
    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    wat = WAT_JSON_SQL.format(url="url", text="text", blen="strlen")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents),
        j AS (SELECT doc_id, url, {wat} AS wat_json FROM u),
        r AS (SELECT doc_id,
                (doc_id // 8) AS container_id,
                url, wat_json,
                CAST(strlen(wat_json) AS BIGINT) AS plen,
                CAST(166 + 2 * length(CAST(doc_id AS VARCHAR)) + strlen(url)
                     + length(CAST(strlen(wat_json) AS VARCHAR)) AS BIGINT)
                  AS hlen
              FROM j),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) AS INT) AS record_no,
                CAST({info_const}
                     + length(CAST(container_id AS VARCHAR)) AS BIGINT)
                  + SUM(hlen + plen + 4) OVER (PARTITION BY container_id
                     ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - (hlen + plen + 4) AS rec_offset
              FROM r)
        SELECT container_id, record_no,
               CAST(rec_offset AS BIGINT) AS rec_offset,
               CAST(hlen + plen + 4 AS BIGINT) AS rec_len,
               CAST(rec_offset + hlen AS BIGINT) AS payload_offset,
               CAST(plen AS BIGINT) AS payload_len,
               md5(wat_json) AS payload_md5,
               'metadata' AS warc_type,
               url AS target_uri
        FROM w
    """


@register("wat_export_index", oracle=_wat_index_oracle)
def _wat_export_index(spark, sf):
    """WAT export + index (the METADATA third
    of the CommonCrawl WARC/WET/WAT triad): per-capture JSON envelopes
    (target URI, payload digest, payload length — built by the shared
    WAT_JSON_SQL template both engines evaluate byte-identically) are
    packed into metadata-record containers the unchanged
    warc_record_index then parses.  Oracle = the WET closed-form
    arithmetic with the metadata header width and the envelope's
    template length; green means the exporter's bytes and the
    arithmetic agree to the byte."""
    from pgferry_spark.sources.warc import warc_record_index, wat_export

    idx = warc_record_index(wat_export(_wat_docs(spark, sf)))
    return idx.filter(F.col("warc_type") == "metadata")


def _wat_extract_oracle() -> str:
    """The sidecar loop proof from the SOURCE side: the describing
    fields straight off the corpus — the Spark side must recover the
    same values by parsing JSON payloads out of real container
    bytes."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    return f"""
        WITH u AS (SELECT doc_id, source, text, {url} AS url FROM documents)
        SELECT (doc_id // 8) AS container_id,
               CAST(row_number() OVER (
                    PARTITION BY (doc_id // 8)
                    ORDER BY doc_id) AS INT) AS record_no,
               url AS target_uri,
               url AS meta_url,
               md5(text) AS meta_md5,
               CAST(strlen(text) AS BIGINT) AS meta_len
        FROM u
    """


@register("wat_metadata_extract", oracle=_wat_extract_oracle)
def _wat_metadata_extract(spark, sf):
    """The WAT consumption proof: parse the exported containers, then
    parse the JSON envelopes BACK OUT of the payload bytes
    (get_json_object over the extracted text).  The oracle replays the
    fields straight from the source corpus — green means a consumer
    reading the sidecar recovers exactly the describing fields (URI,
    digest, length) without touching payload bytes."""
    from pgferry_spark.sources.warc import warc_payload_extract, wat_export

    ext = warc_payload_extract(wat_export(_wat_docs(spark, sf))).filter(
        F.col("record_no") >= 1
    )
    return ext.select(
        "container_id",
        "record_no",
        "target_uri",
        F.get_json_object("text", "$.u").alias("meta_url"),
        F.get_json_object("text", "$.d").alias("meta_md5"),
        F.get_json_object("text", "$.l").cast("bigint").alias("meta_len"),
    )


@register("wet_text_extract", oracle=_wet_text_oracle)
def _wet_text_extract(spark, sf):
    """The WET consumption proof: extract payloads back OUT of the
    exported WET containers (one Arrow parse+slice pass; record_no >= 1
    skips each container's warcinfo leader). The oracle is the ORIGINAL
    documents text — green means a consumer reading our WET shards
    recovers every training byte without ever touching the HTML."""
    from pgferry_spark.sources.warc import warc_payload_extract, wet_export

    return warc_payload_extract(
        wet_export(_docs_with_urls(spark, sf))
    ).filter(F.col("record_no") >= 1)


def _warc_revisit_oracle() -> str:
    """Keeper election replayed as a window-min over md5(text); text is
    the ORIGINAL capture text for every row, so hash-green means the
    revisit loop recovered every byte through the indirection."""
    return _warc_captures_cte() + """
        SELECT capture_id, url AS target_uri,
               capture_id <> keeper AS is_revisit, text
        FROM k
    """


@register("warc_revisit_resolve", oracle=_warc_revisit_oracle)
def _warc_revisit_resolve(spark, sf):
    """ISO 28500 revisit records — crawl-time storage dedup:
    per payload digest the first capture stores a response record,
    every later identical capture a small revisit record
    (WARC-Refers-To + WARC-Payload-Digest, no payload); the resolver
    rehydrates every capture from the single stored copy via a slim
    digest equi-join.  The oracle replays the keeper election as a
    window-min over md5(text) and hands back the ORIGINAL text for all
    captures, so green certifies the whole loop — digest keep-first,
    revisit framing, cross-container resolution — byte-exactly."""
    from pgferry_spark.sources.warc import (
        attach_warc_revisits,
        warc_revisit_resolve,
    )

    return warc_revisit_resolve(
        attach_warc_revisits(_warc_captures(spark, sf))
    )


def _warc_revisit_stats_oracle() -> str:
    return _warc_captures_cte() + """
        SELECT CAST(count(*) AS BIGINT) AS n_captures,
               CAST(sum(CASE WHEN capture_id <> keeper THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_revisits,
               CAST(sum(CASE WHEN capture_id <> keeper
                    THEN strlen(text) ELSE 0 END) AS BIGINT) AS bytes_saved
        FROM k
    """


@register("warc_revisit_stats", oracle=_warc_revisit_stats_oracle)
def _warc_revisit_stats(spark, sf):
    """The storage-savings rollup a crawl operator reads: captures,
    revisits, and the payload bytes the revisit records did NOT store
    (octet length of the deduplicated payloads)."""
    from pgferry_spark.sources.warc import (
        attach_warc_revisits,
        warc_revisit_resolve,
    )

    r = warc_revisit_resolve(attach_warc_revisits(_warc_captures(spark, sf)))
    return r.agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.sum(F.col("is_revisit").cast("bigint")).alias("n_revisits"),
        F.sum(
            F.when(F.col("is_revisit"), F.octet_length("text")).otherwise(
                F.lit(0)
            )
        ).alias("bytes_saved"),
    )


# HTTP message envelopes in WARC response records — the last
# gap between the WARC stack and a drop-in CommonCrawl reader: real
# response records carry application/http payloads (status line + HTTP
# headers + body), the WARC-Payload-Digest covers the HTTP BODY per
# ISO 28500 §5.9, and every downstream stage (status gate, charset
# transcode, quality, dedup) keys off what the envelope parse surfaces.
def _http_containers(spark, sf, gz: bool = False):
    from pgferry_spark.sources.httpmsg import attach_warc_http

    return attach_warc_http(_docs_with_urls(spark, sf), gzip_members=gz)


def _http_index_oracle() -> str:
    """Envelope-index replay: the head length is the fixed header
    template arithmetic — status line (15 + reason), 'Content-Type: '
    (16 + value), 'Content-Length: ' (18 + digits), 301-only
    'Location: ' (18 + url), final CRLF (2).  The Spark side PARSES
    real bytes, so hash-green means parser and arithmetic agree."""
    return _http_cte() + """
        SELECT container_id, record_no, url AS target_uri, status,
               reason, content_type, charset,
               CAST(15 + strlen(reason) + 16 + cth_len + 18
                    + strlen(CAST(body_len AS VARCHAR))
                    + CASE WHEN status = 301 THEN 18 + strlen(url)
                           ELSE 0 END
                    + 2 AS BIGINT) AS body_offset,
               body_len,
               false AS truncated,
               '' AS warc_truncated,
               true AS digest_ok
        FROM hw
    """


@register("http_response_index", oracle=_http_index_oracle)
def _http_response_index(spark, sf):
    """HTTP envelope index: documents become real HTTP
    response messages (status/Content-Type/charset classes keyed on
    doc_id via the shared HTTP_*_SQL templates) inside WARC response
    records marked ``application/http; msgtype=response``; one fused
    Arrow walk parses WARC framing AND the HTTP envelope, emitting per
    record the status, reason, media type, normalized charset, body
    (offset, len) within the payload, a truncation flag, and
    digest_ok — md5 over the PARSED body span vs the record's
    WARC-Payload-Digest (the ISO 28500 body-digest subtlety).  The
    oracle replays every field and the head-length byte arithmetic in
    closed form; hash-green means the real parser and the arithmetic
    agree to the byte.  Container bytes never shuffle."""
    from pgferry_spark.sources.httpmsg import http_response_index

    return http_response_index(_http_containers(spark, sf))


def _http_status_filter_oracle() -> str:
    return _http_cte() + """
        SELECT container_id, record_no, url AS target_uri, status
        FROM hw WHERE status = 200
    """


@register("http_status_filter", oracle=_http_status_filter_oracle)
def _http_status_filter(spark, sf):
    """The keep-200s gate every crawl curation runs first: the
    envelope index filtered to successful captures — 404s and
    redirects never reach extraction.  Pure filter over the index
    rows; container bytes untouched."""
    idx = _http_response_index(spark, sf)
    return idx.filter(F.col("status") == 200).select(
        "container_id", "record_no", "target_uri", "status"
    )


def _http_body_extract_oracle() -> str:
    """The ORIGINAL text for the utf-8-or-undeclared classes — green =
    byte-exact recovery through HTTP + gzip + WARC framing."""
    return _http_cte() + """
        SELECT container_id, record_no, url AS target_uri, status,
               text
        FROM hw WHERE doc_id % 5 IN (0, 3, 4)
    """


@register("http_body_extract", oracle=_http_body_extract_oracle)
def _http_body_extract(spark, sf):
    """Document text recovered through HTTP + gzip + WARC framing
    COMBINED (the full CommonCrawl transport stack): gzip-member
    containers, response records, HTTP envelopes — one fused walk
    inflates each member, parses both framings, slices the body and
    decodes the utf-8 fast path (declared utf-8 or no charset; other
    charsets belong to the transcode entry).  Oracle = the ORIGINAL
    document text, so green certifies byte-exact recovery through all
    three layers."""
    from pgferry_spark.sources.httpmsg import http_body_extract

    return http_body_extract(_http_containers(spark, sf, gz=True))


def _http_transcode_oracle() -> str:
    """The decorated text in closed form — what a charset-honoring
    reader recovers from the latin-1/cp1252 bodies."""
    return _http_cte() + """
        SELECT container_id, record_no, url AS target_uri, status,
               charset, body_text AS text
        FROM hw
    """


@register("http_charset_transcode", oracle=_http_transcode_oracle)
def _http_charset_transcode(spark, sf):
    """The declared-charset front door (the
    CCNet/OSCAR posture): honor the Content-Type charset parameter —
    latin-1 and cp1252 bodies (carrying real non-ASCII bytes: é © ñ €
    ™) transcode to proper UTF-8 text via stdlib codecs BEFORE any
    quality scoring.  Oracle = the decorated text in closed form, so
    green certifies the decode recovers exactly what the server
    meant.  Zero shuffle beyond container fan-out."""
    from pgferry_spark.sources.httpmsg import http_charset_transcode

    return http_charset_transcode(_http_containers(spark, sf))


def _http_sniff_oracle() -> str:
    """Closed-form replay of the six sniff classes: resolved label,
    deciding precedence arm, and the decoded text (markup included,
    BOM excluded) — green certifies the real prescan, the precedence
    order, and the byte-exact decode all agree with the templates."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL
    from pgferry_spark.sources.httpmsg import (
        HTTP_SNIFF_CHARSET_SQL,
        HTTP_SNIFF_HDR_SQL,
        HTTP_SNIFF_SOURCE_SQL,
        HTTP_SNIFF_TEXT_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    hdr = HTTP_SNIFF_HDR_SQL.format(id="doc_id")
    label = HTTP_SNIFF_CHARSET_SQL.format(id="doc_id")
    source = HTTP_SNIFF_SOURCE_SQL.format(id="doc_id")
    text = HTTP_SNIFF_TEXT_SQL.format(id="doc_id", text="text")
    return f"""
        WITH u AS (SELECT doc_id, (doc_id // 8) AS container_id,
                     text, {url} AS url
                   FROM documents),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) - 1 AS INT) AS record_no
              FROM u)
        SELECT container_id, record_no, url AS target_uri,
               {hdr} AS header_charset,
               {label} AS charset, {source} AS source,
               {text} AS text
        FROM w
    """


@register("http_charset_sniff", oracle=_http_sniff_oracle)
def _http_charset_sniff(spark, sf):
    """WHATWG-lite charset sniffing:
    resolve each response's effective charset in HTML Standard
    §13.2.3.2 precedence order — BOM beats the Content-Type header,
    the header beats an in-document ``<meta>`` declaration, and a
    bounded prescan of the first 1024 body bytes catches the
    header-silent pages that previously never transcoded.  The six
    synthesis classes exercise every precedence arm including both
    documented DISAGREEMENTS (BOM-vs-header: BOM wins; header-vs-meta:
    header wins).  Oracle = the closed-form decoded text (markup
    included — the meta tag is document content), the resolved label,
    and WHICH arm decided it.  Zero shuffle beyond container fan-out;
    the prescan rides the same fused walk as the envelope parse."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http_sniff,
        http_charset_sniff,
    )

    return http_charset_sniff(
        attach_warc_http_sniff(_docs_with_urls(spark, sf))
    )


def _charset_sniff_disagreements_oracle() -> str:
    """Classes 1, 2 (header silent, meta declares a single-byte
    charset -> header-only utf-8 vs sniffed cp1252/latin-1) and 3
    (header latin-1, BOM utf-8 wins)."""
    from pgferry_spark.operators.domains import URL_SYNTH_SQL
    from pgferry_spark.sources.httpmsg import (
        HTTP_SNIFF_CHARSET_SQL,
        HTTP_SNIFF_HDR_SQL,
        HTTP_SNIFF_SOURCE_SQL,
    )

    url = URL_SYNTH_SQL.format(id="doc_id", src="source")
    hdr = HTTP_SNIFF_HDR_SQL.format(id="doc_id")
    label = HTTP_SNIFF_CHARSET_SQL.format(id="doc_id")
    source = HTTP_SNIFF_SOURCE_SQL.format(id="doc_id")
    return f"""
        WITH u AS (SELECT doc_id, (doc_id // 8) AS container_id,
                     text, {url} AS url
                   FROM documents),
        w AS (SELECT *,
                CAST(row_number() OVER (PARTITION BY container_id
                     ORDER BY doc_id) - 1 AS INT) AS record_no
              FROM u)
        SELECT container_id, record_no, url AS target_uri,
               {hdr} AS header_charset,
               {label} AS charset, {source} AS source
        FROM w WHERE doc_id % 6 IN (1, 2, 3)
    """


@register("charset_sniff_disagreements", oracle=_charset_sniff_disagreements_oracle)
def _charset_sniff_disagreements(spark, sf):
    """The mojibake-prevented audit: the rows where WHATWG
    sniffing resolved a DIFFERENT codec than the header-only front
    door would have used — header-silent pages declaring cp1252 /
    latin-1 in-document (previously decoded as utf-8 mojibake) and the
    BOM'd page whose header mis-states latin-1.  Codec-level
    comparison via a JVM literal-map lookup over CHARSET_CODECS (label
    aliases reaching the same codec are NOT disagreements), no UDF.
    Oracle replays the three disagreement classes in closed form."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http_sniff,
        charset_sniff_disagreements,
    )

    return charset_sniff_disagreements(
        attach_warc_http_sniff(_docs_with_urls(spark, sf))
    )


def _http_redirect_oracle() -> str:
    return _http_cte() + """
        SELECT url AS target_uri, status, url || '/moved' AS location
        FROM hw WHERE status = 301
    """


@register("http_redirect_edges", oracle=_http_redirect_oracle)
def _http_redirect_edges(spark, sf):
    """3xx responses as (uri, Location) edges — the redirect graph a
    frontier follows; only redirect rows leave the executor."""
    from pgferry_spark.sources.httpmsg import http_redirect_edges

    return http_redirect_edges(_http_containers(spark, sf))


def _http_request_pairs_oracle() -> str:
    return _http_cte() + """
        SELECT container_id, url AS target_uri,
               'GET' AS method, url AS req_target, status
        FROM hw
    """


@register("http_request_pairs", oracle=_http_request_pairs_oracle)
def _http_request_pairs(spark, sf):
    """WARC request records + Concurrent-To pairing (the last ISO
    28500 record type): the crawler's stored GET
    (absolute-form target, bodiless) sits adjacent to its response and
    links via WARC-Concurrent-To (§5.7); the pairing is a
    per-container dict lookup inside the SAME fused walk, so nothing
    shuffles but the paired audit rows (what was asked for vs the
    response verdict).  Oracle: method/target/status in closed form
    from the shared templates; a split pair is dropped, never
    mispaired."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_request_pairs,
    )

    return http_request_pairs(
        attach_warc_http(_docs_with_urls(spark, sf), with_requests=True)
    )


def _recrawl_plan_oracle() -> str:
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
        WITH u AS (SELECT doc_id, source, text, {url} AS url
                   FROM documents),
        h AS (SELECT *, {host} AS host FROM u),
        q AS (SELECT *, {qc} AS __q FROM h),
        n AS (SELECT *, {nurl} AS nurl FROM q),
        cand AS (SELECT DISTINCT nurl FROM n),
        caps AS (SELECT nurl, min(md5(text)) AS dig
                 FROM n WHERE doc_id % 3 <> 2 GROUP BY 1)
        SELECT cand.nurl,
               CASE WHEN caps.dig IS NULL THEN 'fetch'
                    ELSE 'revalidate' END AS action,
               coalesce(caps.dig, '') AS etag
        FROM cand LEFT JOIN caps ON cand.nurl = caps.nurl
    """


@register("recrawl_plan", oracle=_recrawl_plan_oracle)
def _recrawl_plan(spark, sf):
    """Conditional-recrawl planning (the
    operational counterpart of the 304 revisit profile): the frontier
    wave (every document URL) splits against the crawled-capture index
    (documents with doc_id % 3 != 2, each carrying its payload digest)
    into 'revalidate' (send If-None-Match with the stored digest — an
    unchanged page costs zero payload bytes) and 'fetch' (unseen
    canonical URL).  Both sides ride the shared nurl canonicalization;
    one slim left equi-join.  Oracle replays the split and the
    per-nurl min-digest election in closed form."""
    from pgferry_spark.operators.domains import recrawl_plan

    cands = _docs_with_urls(spark, sf)
    caps = (
        _docs_with_urls(spark, sf)
        .filter(F.col("doc_id") % 3 != 2)
        .withColumn("digest", F.md5("text"))
    )
    return recrawl_plan(cands, caps)


def _http_truncated_oracle() -> str:
    from pgferry_spark.sources.httpmsg import TRUNCATE_BODY_AT

    # the cut only happens when it drops real bytes (corpus bodies are
    # all longer than the policy, but the condition is spelled anyway)
    cond = f"(doc_id % 11 = 4 AND body_len > {TRUNCATE_BODY_AT})"
    return _http_cte() + f"""
        SELECT container_id, record_no, url AS target_uri,
               {cond} AS truncated,
               CASE WHEN {cond} THEN 'length' ELSE '' END
                 AS warc_truncated,
               CAST(CASE WHEN {cond} THEN {TRUNCATE_BODY_AT}
                    ELSE body_len END AS BIGINT) AS body_len,
               true AS digest_ok
        FROM hw
    """


@register("http_truncated_audit", oracle=_http_truncated_oracle)
def _http_truncated_audit(spark, sf):
    """Truncated-capture audit (ISO 28500
    §5.13): captures cut by length policy store the HTTP head + a
    prefix of the body, keep the server's ORIGINAL Content-Length in
    the HTTP head, shrink the WARC Content-Length to the stored bytes,
    and carry WARC-Truncated with the reason.  The audit certifies the
    two truncation signals AGREE record-by-record — the HTTP parser's
    declared-vs-available flag and the WARC-layer header — and that
    the §5.9 digest still verifies over the STORED (cut) body
    (digest_ok true on every row, truncated or not).  Oracle: the cut
    class, the clamped body length, and both flags in closed form."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_response_index,
    )

    idx = http_response_index(
        attach_warc_http(_docs_with_urls(spark, sf), with_truncation=True)
    )
    return idx.select(
        "container_id", "record_no", "target_uri",
        "truncated", "warc_truncated", "body_len", "digest_ok",
    )


def _cc_funnel_oracle() -> str:
    """All six stage counts in closed form over the capture stream +
    the shared HTTP templates (status/charset/body keyed on
    capture_id).  unique_payload dedups on the DECODED body text, so
    re-captures (identical text, same %5 class by construction of the
    +10^7 offset? NO — the offset shifts the classes) — the decorated
    body of a re-capture can differ from its original's, which is
    exactly what the Spark side computes too: dedup keys on the
    decoded text, not the source document."""
    from pgferry_spark.sources.httpmsg import (
        HTTP_BODY_TEXT_SQL,
        HTTP_CHARSET_SQL,
        HTTP_STATUS_SQL,
    )

    status = HTTP_STATUS_SQL.format(id="capture_id")
    body = HTTP_BODY_TEXT_SQL.format(id="capture_id", text="text")
    charset = HTTP_CHARSET_SQL.format(id="capture_id")
    return _warc_captures_cte() + f"""
        , hf AS (SELECT capture_id,
                   CAST({status} AS INT) AS status,
                   {charset} AS charset,
                   {body} AS body_text
                 FROM caps),
        k200 AS (SELECT * FROM hf WHERE status = 200),
        uq AS (SELECT md5(body_text) AS d,
                      min(length(body_text)) AS L
               FROM k200 GROUP BY 1)
        SELECT CAST(0 AS INT) AS stage_no, 'captured' AS stage,
               CAST(count(*) AS BIGINT) AS n FROM hf
        UNION ALL
        SELECT CAST(1 AS INT), 'envelope_ok',
               CAST(count(*) AS BIGINT) FROM hf
        UNION ALL
        SELECT CAST(2 AS INT), 'status_200',
               CAST(count(*) AS BIGINT) FROM k200
        UNION ALL
        SELECT CAST(3 AS INT), 'transcoded',
               CAST(count(*) AS BIGINT) FROM k200
        UNION ALL
        SELECT CAST(4 AS INT), 'unique_payload',
               CAST(count(*) AS BIGINT) FROM uq
        UNION ALL
        SELECT CAST(5 AS INT), 'quality_len',
               CAST(count(*) AS BIGINT) FROM uq WHERE L >= 200
    """


@register("cc_ingest_funnel", oracle=_cc_funnel_oracle)
def _cc_ingest_funnel(spark, sf):
    """The end-to-end CommonCrawl ingest funnel — the composed proof that the HTTP layer feeds the curation
    stack: the CAPTURE stream (with deterministic re-captures) packs
    into real HTTP-enveloped containers, then one row per stage counts
    the survivors of each gate a production ingest runs in order —
    captured → envelope_ok (digest verified, not truncated) →
    status_200 (the keep-gate) → transcoded (declared charset on the
    codec allowlist) → unique_payload (exact dedup on the DECODED
    text digest — the re-captures drop here) → quality_len (>= 200
    decoded chars).  Every stage is one aggregate over index/transcode
    rows; container bytes are read once per walk and never shuffle.
    The oracle replays all six counts in closed form."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_charset_transcode,
        http_response_index,
    )

    from pyspark import StorageLevel

    caps = _warc_captures(spark, sf)
    # persist: BOTH walks (index + transcode) read the same containers;
    # without it the applyInPandas synthesis runs twice.  (A real
    # ingest reads existing containers from storage — the persist is
    # the synthesis path's stand-in for that storage; the disk-backed
    # equivalence is pinned by tests/test_warc.py::
    # TestStorageBackedFunnel.)  Lifecycle: LRU-evicted or
    # caller-unpersisted, the tok_pos convention.
    containers = attach_warc_http(caps, id_col="capture_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    idx = http_response_index(containers)
    tr = http_charset_transcode(containers)

    # ONE decode pass per walk (guide §2.3/§2.4): the six per-stage
    # aggregates previously executed independently — three re-running
    # the index decode and three the transcode decode over the cached
    # containers (six Python decode passes per materialization).
    # Conditional aggregation folds each walk's stages into a single
    # pass; the digest groupBy carries per-digest multiplicities so the
    # row-level count (transcoded) and the digest-level counts (unique,
    # quality — same-digest rows share text, hence length) ride the
    # same pass. Counting semantics are unchanged: count(when(cond,1))
    # counts exactly the rows the old filters kept (NULL conditions
    # drop), the groupBy keeps a NULL-digest group exactly as
    # dropDuplicates did, and the empty-input coalesce pins the old 0.
    a = idx.agg(
        F.count(F.lit(1)).alias("__captured"),
        F.count(
            F.when(F.col("digest_ok") & ~F.col("truncated"), 1)
        ).alias("__envelope_ok"),
        F.count(F.when(F.col("status") == 200, 1)).alias("__status_200"),
    )
    u = (
        tr.filter(F.col("status") == 200)
        .select(F.md5("text").alias("__d"), F.length("text").alias("__L"))
        .groupBy("__d")
        .agg(F.count(F.lit(1)).alias("__m"), F.max("__L").alias("__L"))
    )
    c = u.agg(
        F.coalesce(F.sum("__m"), F.lit(0)).cast("long").alias("__transcoded"),
        F.count(F.lit(1)).alias("__unique"),
        F.count(F.when(F.col("__L") >= 200, 1)).alias("__quality"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(no).cast("int").alias("stage_no"),
                F.lit(name).alias("stage"),
                F.col(col).alias("n"),
            )
            for no, name, col in [
                (0, "captured", "__captured"),
                (1, "envelope_ok", "__envelope_ok"),
                (2, "status_200", "__status_200"),
                (3, "transcoded", "__transcoded"),
                (4, "unique_payload", "__unique"),
                (5, "quality_len", "__quality"),
            ]
        ]
    )
    return (
        a.crossJoin(F.broadcast(c))
        .select(F.explode(stages).alias("__s"))
        .select("__s.stage_no", "__s.stage", "__s.n")
    )


def _http_revisit_oracle() -> str:
    """The server-not-modified profile replay: same keeper election,
    plus the HTTP layer — keepers parsed as 200s, revisits as the
    bodiless 304 the server sent; text is the ORIGINAL capture text
    for every row through the digest indirection."""
    return _warc_captures_cte() + """
        SELECT capture_id, url AS target_uri,
               capture_id <> keeper AS is_revisit,
               CAST(CASE WHEN capture_id <> keeper THEN 304 ELSE 200 END
                    AS INT) AS status,
               text
        FROM k
    """


@register("http_revisit_resolve", oracle=_http_revisit_oracle)
def _http_revisit_resolve(spark, sf):
    """Server-not-modified revisits (ISO 28500 §6.7.1 — the OTHER
    revisit profile): re-captures arrive as
    bodiless HTTP 304 responses (the server vouched via the stored
    ETag; no payload bytes crossed the wire) stored as revisit records
    with WARC-Profile + WARC-Refers-To + the original's payload
    digest; keepers store full HTTP 200 envelopes.  The resolver
    parses the envelope on BOTH record kinds in one fused walk and
    rehydrates every 304 from the single stored body via the digest
    window — the warc_revisit_resolve geometry composed with the HTTP
    layer.  Oracle replays the keeper election + the 200/304 split and
    hands back the ORIGINAL text for every capture."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http_revisits,
        http_revisit_resolve,
    )

    return http_revisit_resolve(
        attach_warc_http_revisits(_warc_captures(spark, sf))
    )


# the wire codings are transparent to the DECODED text, so the
# transcode closed form is the oracle verbatim
@register("http_wire_decode", oracle=_http_transcode_oracle)
def _http_wire_decode(spark, sf):
    """The HTTP wire-coding layer: stored bodies arrive chunked transfer-coded (RFC 9112
    §7.1 — hex-size framing, no Content-Length) on doc_id % 4 == 2,
    gzip content-coded (RFC 9110 §8.4.1, capped inflate) on % 4 == 1,
    and deflate content-coded on % 4 == 3 — alternating the
    zlib-wrapped (RFC 1950) and raw (RFC 1951) spellings, the
    legacy-server ambiguity the reader absorbs — orthogonal to the
    charset and status classes so every combination occurs; the reader
    decodes in transport-then-representation-then-charset order inside
    the SAME fused walk.  Oracle = the decorated text closed form for
    every document — green certifies byte-exact recovery through
    chunked/gzip/deflate/charset/WARC framing combined.  decode_chunked
    totality is hypothesis-pinned; unsupported or malformed codings
    (brotli: no stdlib codec — docs/SCALE.md boundary) drop the row
    rather than guess."""
    from pgferry_spark.sources.httpmsg import (
        attach_warc_http,
        http_charset_transcode,
    )

    return http_charset_transcode(
        attach_warc_http(_docs_with_urls(spark, sf), wire_codings=True)
    )
