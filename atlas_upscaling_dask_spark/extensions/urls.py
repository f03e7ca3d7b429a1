"""Crawl-hygiene URL operators: canonicalization, registrable-domain
extraction, canonical-URL dedup.

A web-crawl training pipeline dedups and mixes by URL before it ever
looks at page bytes: the same document is fetched under utm-tagged,
fragment-bearing, case-shifted, dot-segmented spellings of one URL,
and domain-level mixture/blocklist decisions need the REGISTRABLE
domain (eTLD+1), not the raw host.  The reference has no web surface
at all — this is north-star extension work like the media codecs, but
unlike those it needs no Python kernel: every step here is Spark
built-ins and higher-order functions (whole-stage codegen), and the
public-suffix lookup is a broadcast join, so the plans stay narrow
and JVM-side at any corpus size.

Canonicalization implements the RFC 3986 §6 normalizations that are
safe without fetching (case of scheme/host, default ports, dot-segment
removal, empty-segment collapse) plus the crawl-standard extras
(fragment removal, tracking-parameter removal, query-parameter sort).
Deliberate simplifications, documented as the operator contract:

* userinfo (``user:pass@host``) is not parsed — such URLs keep the
  userinfo inside the "host" output (crawl corpora reject them
  upstream anyway);
* percent-encoding gets the RFC 3986 §6.2.2 normalization (unreserved
  escapes decoded, kept escapes hex-uppercased); RESERVED escapes are
  deliberately never decoded — ``%2F`` is not ``/`` — and malformed
  triplets pass verbatim;
* IPv6 literal hosts (``http://[::1]:8080/x``) keep their bracketed
  form (lowercased) with the same default-port stripping; the address
  itself is NOT §6.2.3-compressed (``[0:0:0:0:0:0:0:1]`` and ``[::1]``
  stay distinct keys — compressing safely needs a full inet library);
* a trailing slash is normalized away (``/a/`` = ``/a``), the common
  crawl-dedup choice — the root path is always ``/``.

The built-in public-suffix list is a compact, documented SUBSET of the
Mozilla PSL for tests and fixtures; production loads the real PSL file
with ``load_psl`` (full format: comments, ICANN/PRIVATE sections,
``*.foo`` wildcards, ``!bar.foo`` exceptions) and passes the frame to
``registrable_domains(suffixes=...)`` — the operator shape (broadcast
joins on the last-k-label candidates) is what scales, the list is
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: exact query-parameter names that identify click/campaign tracking
TRACKING_PARAMS = (
    "fbclid", "gclid", "msclkid", "yclid", "mc_eid", "igshid", "_ga",
)

#: compact public-suffix subset (production: load the full Mozilla PSL
#: into the same one-column frame)
DEFAULT_SUFFIXES = (
    "com", "org", "net", "edu", "gov", "io", "dev", "app", "info",
    "co", "uk", "co.uk", "org.uk", "ac.uk", "gov.uk",
    "au", "com.au", "org.au", "jp", "co.jp", "ne.jp", "or.jp",
    "br", "com.br", "de", "fr", "it", "nl", "ru", "cn", "com.cn",
    "in", "co.in", "kr", "co.kr", "nz", "co.nz", "za", "co.za",
)


def _pct_normalize(u):
    """RFC 3986 §6.2.2 percent-encoding normalization as pure
    expressions: unreserved escapes (``%41``→``A``, ``%7E``→``~``,
    digits, ``-._``) DECODE — two spellings of one URL must share one
    key — and every other valid triplet keeps its escape with the hex
    UPPERCASED (``%3a``→``%3A``, the §6.2.2.1 case rule).  Malformed
    triplets (``%zz``, trailing ``%``) pass verbatim: refusing to
    guess beats mangling.  One split + one ``aggregate`` fold —
    codegen'd, no Python."""
    parts = F.split(u, "%")

    def seg(p):
        hex2 = F.upper(F.substring(p, 1, 2))
        valid = p.rlike("^[0-9A-Fa-f]{2}")
        code = F.conv(hex2, 16, 10).cast("int")
        unreserved = (
            ((code >= 48) & (code <= 57))    # 0-9
            | ((code >= 65) & (code <= 90))  # A-Z
            | ((code >= 97) & (code <= 122))  # a-z
            | code.isin(45, 46, 95, 126)     # - . _ ~
        )
        rest = F.substr(p, F.lit(3), F.length(p))
        return (
            F.when(valid & unreserved, F.concat(F.char(code), rest))
            .when(valid, F.concat(F.lit("%"), hex2, rest))
            .otherwise(F.concat(F.lit("%"), p))
        )

    return F.when(F.size(parts) <= 1, u).otherwise(
        F.concat(
            F.element_at(parts, 1),
            F.aggregate(
                F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))),
                F.lit(""),
                lambda acc, p: F.concat(acc, seg(p)),
            ),
        )
    )


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    """Add ``out_col`` with the canonical spelling of ``url_col``.

    Pure built-in/HOF expressions (one codegen'd narrow projection):
    fragment and tracking params dropped, scheme+host lowercased,
    trailing host dot and default ports stripped, percent-encoding
    normalized (`_pct_normalize`: unreserved escapes decoded, kept
    escapes uppercased), dot-segments resolved with an ``aggregate``
    fold, empty segments collapsed, remaining query params sorted.
    URLs without ``://`` pass through trimmed-verbatim (opaque ids
    happen in crawl tables; refusing to guess beats mangling).
    """
    # Shared sub-expressions are staged as named columns and dropped at
    # the end: inlined, each of u/base/rest/hostport would be copied
    # into every expression that reads it, and a 4-row frame planned
    # ~780k characters of expression tree (under 6k staged).  The
    # optimizer keeps the stages apart because each is read more than
    # once.
    names = [f"__canon_{n}" for n in ("u", "base", "query", "scheme", "rest", "hostport")]
    u, base, query, scheme, rest, hostport = (F.col(n) for n in names)
    raw = F.trim(F.col(url_col))
    nofrag = F.substring_index(u, "#", 1)
    has_q = F.instr(nofrag, "?") > 0
    staged = (
        df.withColumn(names[0], _pct_normalize(raw))
        .withColumn(names[1], F.substring_index(nofrag, "?", 1))
        .withColumn(names[2], F.when(has_q, F.substr(
            nofrag, F.instr(nofrag, "?") + 1, F.length(nofrag)
        )).otherwise(F.lit("")))
        .withColumn(names[3], F.lower(
            F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
        ))
        # everything past "<scheme>://"
        .withColumn(names[4], F.substr(base, F.length(scheme) + F.lit(4), F.length(base)))
    )
    slash = F.instr(rest, "/")
    staged = staged.withColumn(
        names[5],
        F.when(slash > 0, F.substr(rest, F.lit(1), slash - 1)).otherwise(rest),
    )
    has_scheme = scheme != ""
    raw_path = F.when(slash > 0, F.substr(rest, slash, F.length(rest))).otherwise(
        F.lit("")
    )
    # IPv6 literals: [addr] or [addr]:port — the colon split below
    # would mangle them, so bracketed hosts take their own branch
    bracket = F.instr(hostport, "]")
    is_v6 = hostport.startswith("[") & (bracket > 0)
    v6_host = F.lower(F.substr(hostport, F.lit(1), bracket))
    v6_port = F.when(
        F.length(hostport) > bracket + 1,
        F.substr(hostport, bracket + F.lit(2), F.length(hostport)),
    ).otherwise(F.lit(""))
    host = F.when(is_v6, v6_host).otherwise(
        F.regexp_replace(
            F.lower(F.substring_index(hostport, ":", 1)), r"\.$", ""
        )
    )
    port = F.when(is_v6, v6_port).otherwise(
        F.when(
            F.instr(hostport, ":") > 0, F.substring_index(hostport, ":", -1)
        ).otherwise(F.lit(""))
    )
    port_part = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))

    segs = F.split(raw_path, "/")
    resolved = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, x: (
            F.when((x == "") | (x == "."), acc)
            .when(x == "..", F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))))
            .otherwise(F.concat(acc, F.array(x)))
        ),
    )
    path = F.concat(F.lit("/"), F.array_join(resolved, "/"))

    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.lower(p).startswith("utm_")
        & ~F.lower(F.substring_index(p, "=", 1)).isin(*TRACKING_PARAMS),
    )
    q_part = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
    ).otherwise(F.lit(""))

    canon = F.concat(scheme, F.lit("://"), host, port_part, path, q_part)
    return staged.withColumn(
        out_col, F.when(has_scheme, canon).otherwise(raw)
    ).drop(*names)


def suffix_frame(df_or_spark, suffixes=DEFAULT_SUFFIXES) -> DataFrame:
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return spark.createDataFrame(
        [(s, s.count(".") + 1) for s in suffixes], "suffix string, k int"
    )


def parse_psl(text: str) -> list[tuple[str, str]]:
    """Parse the Mozilla Public Suffix List FORMAT into ``(rule,
    kind)`` tuples, kind ∈ ``plain | wildcard | exception``.

    Per the publicsuffix.org spec: ``//`` comment lines and blank
    lines are skipped (the ICANN/PRIVATE section markers are comments,
    so both sections load); a rule is the line up to the first
    whitespace; ``*.foo`` keeps its wildcard label; ``!bar.foo`` drops
    the ``!`` and becomes an exception rule.  Rules are lowercased
    (the list is already punycode — IDN labels must be punycoded by
    the caller, same contract as `registrable_domains`)."""
    rules: list[tuple[str, str]] = []
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower()
        if rule.startswith("!"):
            rules.append((rule[1:], "exception"))
        elif rule.startswith("*."):
            rules.append((rule, "wildcard"))
        else:
            rules.append((rule, "plain"))
    return rules


def load_psl(df_or_spark, text: str | None = None, path: str | None = None
             ) -> DataFrame:
    """The full Mozilla PSL as the broadcast suffix frame
    `registrable_domains` consumes — columns ``(suffix, k, kind)``
    where ``k`` counts labels (the wildcard ``*`` is a label).  Pass
    the file's text or a driver-local path; the frame is a few
    thousand rows and always broadcast, so the list is DATA and the
    join shape is unchanged at any corpus size."""
    if (text is None) == (path is None):
        raise ValueError("load_psl: pass exactly one of text= / path=")
    if path is not None:
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    rules = parse_psl(text)
    if not rules:
        raise ValueError("load_psl: no rules parsed")
    return spark.createDataFrame(
        [(r, r.count(".") + 1, kind) for r, kind in rules],
        "suffix string, k int, kind string",
    )


def registrable_domains(
    df: DataFrame,
    host_col: str = "host",
    out_col: str = "registrable_domain",
    suffixes: DataFrame | None = None,
    max_suffix_labels: int = 4,
) -> DataFrame:
    """Add ``out_col`` = eTLD+1 of ``host_col`` via the public-suffix
    longest-match rule — full PSL semantics when the suffix frame
    carries a ``kind`` column (`load_psl`): ``*.foo`` wildcard rules
    match any label in the starred position, and ``!bar.foo``
    exception rules beat every other match (the publicsuffix.org
    algorithm: the prevailing exception rule minus its leftmost label
    is the public suffix).  A plain two-column frame (`suffix_frame`)
    behaves as before.

    Plan shape: the candidate suffix for each k (the host's last k
    labels; for wildcards, ``*.`` + the last k-1) is a codegen'd
    expression; each is resolved by ONE broadcast left join — at most
    ``2·max_suffix_labels - 1`` broadcast hash joins, ZERO shuffle
    exchanges, no explode/groupBy.  Hosts that are themselves a public
    suffix (or match no rule) get NULL — the crawl-reject signal
    (deliberately stricter than the spec's implicit ``*`` default).
    """
    from pyspark.sql.functions import broadcast

    sfx = suffixes if suffixes is not None else suffix_frame(df)
    if "kind" not in sfx.columns:
        sfx = sfx.withColumn("kind", F.lit("plain"))
    plain_exc = sfx.filter(F.col("kind") != "wildcard")
    wild = sfx.filter(F.col("kind") == "wildcard")
    labels = F.split(F.lower(F.col(host_col)), r"\.")
    n = F.size(labels)
    out = df.withColumn("__labels", labels)
    drop_cols = ["__labels"]
    plain_hits, wild_hits, exc_hits = [], [], []
    for k in range(1, max_suffix_labels + 1):
        cand = F.when(
            n >= k, F.array_join(F.slice(F.col("__labels"), -k, k), ".")
        )
        scol, kcol = f"__sfx{k}", f"__kind{k}"
        out = (
            out.withColumn(f"__cand{k}", cand)
            .join(
                broadcast(
                    plain_exc.select(
                        F.col("suffix").alias(scol), F.col("kind").alias(kcol)
                    )
                ),
                on=F.col(f"__cand{k}") == F.col(scol),
                how="left",
            )
            .drop(f"__cand{k}")
        )
        drop_cols += [scol, kcol]
        hit = F.col(scol).isNotNull()
        plain_hits.append(
            F.when(hit & (F.col(kcol) == "plain"), F.lit(k))
        )
        exc_hits.append(
            F.when(hit & (F.col(kcol) == "exception"), F.lit(k))
        )
        if k >= 2:
            wcand = F.when(
                n >= k,
                F.concat(
                    F.lit("*."),
                    F.array_join(
                        F.slice(F.col("__labels"), -(k - 1), k - 1), "."
                    ),
                ),
            )
            wcol = f"__wld{k}"
            out = (
                out.withColumn(f"__wcand{k}", wcand)
                .join(
                    broadcast(wild.select(F.col("suffix").alias(wcol))),
                    on=F.col(f"__wcand{k}") == F.col(wcol),
                    how="left",
                )
                .drop(f"__wcand{k}")
            )
            drop_cols.append(wcol)
            wild_hits.append(F.when(F.col(wcol).isNotNull(), F.lit(k)))
    # prevailing rule: exception first (suffix = rule minus its
    # leftmost label), else the longest plain/wildcard match
    exc_k = F.greatest(*exc_hits) if len(exc_hits) > 1 else exc_hits[0]
    match_k = F.greatest(*(plain_hits + wild_hits))
    best_k = F.coalesce(exc_k - 1, match_k)
    n2 = F.size(F.col("__labels"))
    reg = F.when(
        best_k.isNotNull() & (n2 > best_k),
        F.array_join(F.slice(F.col("__labels"), n2 - best_k, best_k + 1), "."),
    )
    return out.withColumn(out_col, reg).drop(*drop_cols)


def _resolve_reference(base, ref):
    """RFC 3986 §5 reference resolution as pure expressions: ``ref``
    resolved against ``base`` (absolute refs kept, ``//``
    protocol-relative, ``/`` root-relative, bare-relative against the
    base path's directory).  Non-hierarchical schemes (``mailto:``,
    ``javascript:``, ...) resolve to NULL; ``../`` in relative refs is
    left for :func:`canonicalize_urls`'s dot-segment fold.  Callers
    decide what an unresolvable ref (NULL, or a base without a scheme
    yielding a ``://``-prefixed string) falls back to."""
    base_nq = F.substring_index(F.substring_index(F.trim(base), "#", 1), "?", 1)
    scheme = F.lower(
        F.regexp_extract(base_nq, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
    )
    rest = F.substr(base_nq, F.length(scheme) + F.lit(4), F.length(base_nq))
    slash = F.instr(rest, "/")
    hostport = F.when(slash > 0, F.substr(rest, F.lit(1), slash - 1)).otherwise(
        rest
    )
    path = F.when(slash > 0, F.substr(rest, slash, F.length(rest))).otherwise(
        F.lit("/")
    )
    parent = F.regexp_replace(path, r"/[^/]*$", "")
    origin = F.concat(scheme, F.lit("://"), hostport)
    h = F.trim(ref)
    return (
        F.when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"), h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, h))
        .when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), F.lit(None))  # mailto:
        .otherwise(F.concat(origin, parent, F.lit("/"), h))
    )


def extract_links(
    pages: DataFrame,
    html_col: str = "html",
    base_col: str = "url",
    out_col: str = "link_url",
) -> DataFrame:
    """Explode each page into its outgoing links — the crawl
    link-graph extractor.  ``<a href>`` values come from one codegen'd
    ``regexp_extract_all``; RFC 3986 §5 reference resolution is the
    pure-expression `_resolve_reference`; the result feeds
    :func:`canonicalize_urls`, whose dot-segment fold also resolves
    ``../`` in relative hrefs.  Fragment-only and non-http(s)-scheme
    links (mailto:, javascript:, ...) are dropped.  One narrow
    projection + one explode — no Python, no join; pair the output
    with `registrable_domains` + `operators/graph.py` for domain-graph
    analytics at crawl scale."""
    _href_pat = r"""(?i)<a\s[^>]*href\s*=\s*["']([^"'#][^"']*)"""
    hrefs = F.regexp_extract_all(F.col(html_col), F.lit(_href_pat), F.lit(1))
    out = pages.withColumn("__href", F.explode(hrefs))
    out = (
        out.withColumn(
            "__resolved", _resolve_reference(F.col(base_col), F.col("__href"))
        )
        .filter(
            F.col("__resolved").isNotNull()
            & F.lower(F.col("__resolved")).rlike("^https?://")
        )
        .drop("__href")
    )
    out = canonicalize_urls(out, url_col="__resolved", out_col=out_col)
    return out.drop("__resolved")


def extract_sitemap_urls(
    sitemaps: DataFrame,
    xml_col: str = "xml",
    out_col: str = "url",
) -> DataFrame:
    """Explode sitemap XML into its ``<loc>`` URLs — works for both
    urlset sitemaps and sitemapindex files (same tag either way, per
    sitemaps.org).  One codegen'd ``regexp_extract_all`` + explode +
    canonicalize; entity-decodes the five XML escapes the protocol
    requires in loc values."""
    pat = r"(?is)<loc>\s*(.*?)\s*</loc>"
    locs = F.regexp_extract_all(F.col(xml_col), F.lit(pat), F.lit(1))
    out = sitemaps.withColumn("__loc", F.explode(locs))
    u = F.col("__loc")
    for ent, rep in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&apos;", "'"), ("&amp;", "&")):
        u = F.replace(u, F.lit(ent), F.lit(rep))
    out = out.withColumn("__dec", u).drop("__loc")
    out = canonicalize_urls(out, url_col="__dec", out_col=out_col)
    return out.drop("__dec")


def extract_sitemap_entries(
    sitemaps: DataFrame,
    xml_col: str = "xml",
) -> DataFrame:
    """Explode sitemap XML into full ``<url>`` entries — URL plus the
    crawl-SCHEDULING fields the protocol defines (sitemaps.org):
    ``lastmod`` (W3C datetime; the date part is what schedulers key
    on), ``changefreq``, and ``priority`` (defaulting to the spec's
    0.5 when absent).  One codegen'd ``regexp_extract_all`` over the
    ``<url>`` blocks + explode + per-field ``regexp_extract`` — no
    Python, no join; pair with `extract_sitemap_urls` when only the
    locs matter (index files have no entry fields)."""
    blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"(?is)<url>(.*?)</url>"), F.lit(1)
    )
    out = sitemaps.withColumn("__blk", F.explode(blocks))
    b = F.col("__blk")

    def field(tag):
        return F.nullif(
            F.regexp_extract(b, rf"(?is)<{tag}>\s*(.*?)\s*</{tag}>", 1),
            F.lit(""),
        )

    loc = field("loc")
    for ent, rep in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&apos;", "'"), ("&amp;", "&")):
        loc = F.replace(loc, F.lit(ent), F.lit(rep))
    out = (
        out.withColumn("__loc", loc)
        .filter(F.col("__loc").isNotNull())
        .withColumn(
            "lastmod_date", F.to_date(F.substring(field("lastmod"), 1, 10))
        )
        .withColumn("changefreq", F.lower(field("changefreq")))
        .withColumn(
            "priority",
            F.coalesce(field("priority").cast("double"), F.lit(0.5)),
        )
    )
    out = canonicalize_urls(out, url_col="__loc", out_col="url")
    return out.drop("__blk", "__loc")


def parse_robots_sitemaps(text: str) -> list[str]:
    """The ``Sitemap:`` directives of a robots.txt (RFC 9309 §2.3 —
    they live outside user-agent groups and apply to everyone)."""
    out = []
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        field, _, value = line.partition(":")
        if field.strip().lower() == "sitemap" and value.strip():
            out.append(value.strip())
    return out


def parse_robots(text: str, agent: str = "*") -> list[tuple[bool, str]]:
    """Parse a robots.txt per RFC 9309 and return the rule list
    ``[(is_allow, path_pattern), ...]`` for the MOST SPECIFIC matching
    user-agent group (longest agent-token match; ``*`` as fallback;
    groups naming the same agent merge).  Patterns keep the robots
    wildcard syntax (``*`` any-run, trailing ``$`` end-anchor); empty
    patterns (``Disallow:`` alone) contribute no rule, per the spec.

    Group FORMATION is shared with ``parse_robots_crawl_delay``: any
    recognized rule record (allow / disallow / crawl-delay) ends a
    ``User-agent:`` startgroupline run, so a later ``User-agent``
    starts a NEW group rather than merging (RFC 9309 §2.2.1 grammar —
    startgrouplines are only adjacent ones).  ``Sitemap:`` lines live
    outside groups (§2.3) and unrecognized fields are ignored; neither
    affects group formation, in either parser.

    Driver/executor-local helper — the distributed path is
    ``robots_rules`` + ``filter_urls_by_robots`` below."""
    agent = agent.lower()
    groups: dict[str, list[tuple[bool, str]]] = {}
    current: list[str] = []
    rules_open = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if rules_open:
                current = []
                rules_open = False
            current.append(value.lower())
            for a in (value.lower(),):
                groups.setdefault(a, [])
        elif field in ("allow", "disallow"):
            rules_open = True
            if not current:
                continue  # rules before any user-agent line: ignored
            if value:
                for a in current:
                    groups.setdefault(a, []).append(
                        (field == "allow", value)
                    )
            else:
                for a in current:
                    groups.setdefault(a, [])
        elif field == "crawl-delay":
            # contributes no allow/disallow rule here, but DOES end
            # the startgroupline run — keeping group formation
            # identical to parse_robots_crawl_delay (r10 advice)
            rules_open = True
        # other fields (sitemap, unrecognized) are ignored
    best: str | None = None
    for a in groups:
        if a != "*" and a in agent and (best is None or len(a) > len(best)):
            best = a
    if best is None and "*" in groups:
        best = "*"
    return groups.get(best, []) if best is not None else []


def parse_robots_crawl_delay(text: str, agent: str = "*") -> float | None:
    """The ``Crawl-delay`` (seconds) of the MOST SPECIFIC matching
    user-agent group — same group selection as `parse_robots`.  Not in
    RFC 9309 but the de-facto politeness extension every major crawler
    honors; last valid value in a group wins, non-numeric values are
    ignored, None means the group declares none."""
    agent = agent.lower()
    delays: dict[str, float] = {}
    seen: dict[str, bool] = {}
    current: list[str] = []
    rules_open = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if rules_open:
                current = []
                rules_open = False
            current.append(value.lower())
            for a in (value.lower(),):
                seen.setdefault(a, True)
        elif field in ("allow", "disallow"):
            rules_open = True
        elif field == "crawl-delay":
            rules_open = True
            try:
                delay = float(value)
            except ValueError:
                continue
            for a in current:
                delays[a] = delay
    best: str | None = None
    for a in seen:
        if a != "*" and a in agent and (best is None or len(a) > len(best)):
            best = a
    if best is None and "*" in seen:
        best = "*"
    return delays.get(best) if best is not None else None


def robots_crawl_delays(
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Per-host ``Crawl-delay`` frame — the politeness budget the
    crawl scheduler broadcasts next to the `robots_rules` gate.  One
    Arrow kernel pass over the (tiny) per-host robots table; NULL
    means the matched group declares no delay."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "host": pdf[host_col],
                    "crawl_delay": pd.array(
                        [
                            parse_robots_crawl_delay(t, agent)
                            for t in pdf[text_col]
                        ],
                        dtype="Float64",
                    ),
                }
            )

    return robots.mapInPandas(kernel, schema="host string, crawl_delay double")


def _robots_pattern_to_regex(pattern: str) -> str:
    """Robots wildcard pattern → anchored Java regex (prefix match,
    ``*`` any-run, trailing ``$`` end-anchor)."""
    import re as _re

    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = [_re.escape(p) for p in pattern.split("*")]
    return "^" + ".*".join(parts) + ("$" if anchored else "")


def robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    txt_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """Parse a (host, robots_txt) table into one rule row per pattern:
    ``(host, is_allow, pattern, regex, weight)``.  Robots tables are
    tiny next to URL tables (one row per HOST), so this side is the
    broadcast side of the filter join; parsing happens once here, never
    per URL."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            hosts, allows, pats, regexes, weights = [], [], [], [], []
            for host, txt in zip(pdf[host_col], pdf[txt_col]):
                for is_allow, pattern in parse_robots(str(txt), agent):
                    hosts.append(host)
                    allows.append(is_allow)
                    pats.append(pattern)
                    regexes.append(_robots_pattern_to_regex(pattern))
                    weights.append(len(pattern))
            yield pd.DataFrame(
                {
                    "host": hosts,
                    "is_allow": pd.array(allows, dtype="bool"),
                    "pattern": pats,
                    "regex": regexes,
                    "weight": pd.array(weights, dtype="int32"),
                }
            )

    return robots.mapInPandas(
        kernel,
        schema="host string, is_allow boolean, pattern string, "
        "regex string, weight int",
    )


def filter_urls_by_robots(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    agent_allowed_col: str = "allowed",
) -> DataFrame:
    """Annotate each URL with RFC 9309 ``allowed``: among the host's
    rules whose pattern matches the URL path, the LONGEST pattern wins
    and allow beats disallow on ties; no matching rule (or no robots
    row for the host) means allowed.

    Plan shape: host/path extraction is codegen'd; the rules join is a
    BROADCAST left join (rules are per-host, tiny); the verdict is one
    aggregation keyed by the URL row — at 100 TB the group-by on the
    URL id is the only exchange, and it carries (id, score) pairs, not
    page bytes."""
    from pyspark.sql.functions import broadcast

    base = F.substring_index(
        F.substring_index(F.trim(F.col(url_col)), "#", 1), "?", 1
    )
    scheme = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
    rest = F.substr(base, F.length(scheme) + F.lit(4), F.length(base))
    slash = F.instr(rest, "/")
    host = F.lower(
        F.substring_index(
            F.when(slash > 0, F.substr(rest, F.lit(1), slash - 1)).otherwise(rest),
            ":",
            1,
        )
    )
    path = F.when(slash > 0, F.substr(rest, slash, F.length(rest))).otherwise(
        F.lit("/")
    )
    with_key = urls.withColumn("__host", host).withColumn("__path", path)
    joined = with_key.join(
        broadcast(rules.withColumnRenamed("host", "__rhost")),
        on=F.col("__host") == F.col("__rhost"),
        how="left",
    )
    matched = F.col("regex").isNotNull() & F.expr("__path rlike regex")
    # longest pattern wins, allow beats disallow on equal length
    score = F.when(
        matched,
        F.col("weight") * 2 + F.when(F.col("is_allow"), 1).otherwise(0),
    )
    verdict = joined.groupBy(*[F.col(c) for c in urls.columns]).agg(
        F.max(score).alias("__best")
    )
    allowed = F.when(
        F.col("__best").isNull(), F.lit(True)
    ).otherwise(F.col("__best") % 2 == 1)
    return verdict.withColumn(agent_allowed_col, allowed).drop("__best")


def url_dedup_canonical(
    df: DataFrame,
    url_col: str = "url",
    canonical_col: str = "canonical_link",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-LINK-aware URL dedup: the publisher's
    ``<link rel=canonical>`` (see `text.extract_page_metadata`) is the
    strongest duplicate signal on the web — m-dot, AMP and www
    variants of one article all declare the same canonical.  The dedup
    key is the canonicalized canonical link when declared AND usable,
    else the canonicalized fetch URL; output adds how many members'
    declared link actually keyed them (``n_declared`` — 0 means the
    group formed from fetch-URL identity alone).

    Publishers routinely declare RELATIVE canonicals (``/story/3``) —
    per the HTML spec a link href is a URL reference, resolved against
    the page URL.  The declared value is therefore passed through
    `_resolve_reference` against the fetch URL before keying; a link
    that still isn't http(s) afterwards (non-hierarchical scheme, or a
    scheme-less fetch URL that gives resolution no origin) is treated
    as undeclared and the row keys by its fetch URL.  Keying by the
    verbatim relative string would collide unrelated hosts that share
    a path shape — the exact bug this resolution step exists to
    prevent.  Same single-hash-agg shape as :func:`url_dedup`."""
    with_keys = canonicalize_urls(df, url_col=url_col, out_col="__fetch")
    resolved = _resolve_reference(F.col(url_col), F.col(canonical_col))
    usable = (
        F.col(canonical_col).isNotNull()
        & resolved.isNotNull()
        & F.lower(resolved).rlike("^https?://")
    )
    with_keys = canonicalize_urls(
        with_keys.withColumn("__link", F.when(usable, resolved)),
        url_col="__link",
        out_col="__linkc",
    )
    key = F.coalesce(F.col("__linkc"), F.col("__fetch"))
    return (
        with_keys.withColumn("canonical_url", key)
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("survivor_" + id_col),
            F.count(F.lit(1)).alias("n_dups"),
            F.sum(
                F.when(F.col("__linkc").isNotNull(), 1).otherwise(0)
            ).alias("n_declared"),
        )
    )


#: HTTP statuses that redirect (RFC 9110 §15.4)
REDIRECT_STATUSES = (301, 302, 303, 307, 308)


def resolve_redirects(
    df: DataFrame,
    url_col: str = "url",
    status_col: str = "http_status",
    location_col: str = "http_location",
    max_hops: int = 16,
) -> DataFrame:
    """Resolve HTTP redirect CHAINS to their final destination — the
    crawl-hygiene step between fetching and dedup (a 301-chain's
    members are one document; ranking signals and the seen-URL ledger
    should key on the terminus).

    Input: one row per fetched URL with its status and ``Location``
    header (`warc_records` emits both).  The Location value is a URL
    REFERENCE per RFC 9110 §10.2.2 — resolved against the fetch URL
    (`_resolve_reference`) and canonicalized, so relative redirects
    chain correctly.  Output adds ``final_url`` (the first non-redirect
    URL reached, or the chain's last known target when it leaves the
    crawl), ``n_hops``, and ``unresolved`` (True for chains still
    redirecting after ``max_hops`` — cycles and over-long chains).

    Scale shape: POINTER DOUBLING, not per-hop walking — each round
    one self-equi-join on the canonical URL contracts every chain to
    half its remaining length, so ``ceil(log2(max_hops))`` exchanges
    bound ANY chain the cap admits (a per-hop loop would pay
    ``max_hops`` exchanges).  `localCheckpoint` truncates the plan per
    round, the `graph_pagerank`/`vox_closure` pattern."""
    import math

    canon = canonicalize_urls(df, url_col=url_col, out_col="__u")
    resolved = _resolve_reference(F.col(url_col), F.col(location_col))
    is_redirect = (
        F.col(status_col).isin(*REDIRECT_STATUSES)
        & F.col(location_col).isNotNull()
        & resolved.isNotNull()
    )
    canon = canonicalize_urls(
        canon.withColumn("__loc", F.when(is_redirect, resolved)),
        url_col="__loc",
        out_col="__next",
    )
    state = canon.select(
        F.col("__u").alias("src"),
        F.coalesce(F.col("__next"), F.col("__u")).alias("final_url"),
        F.when(F.col("__next").isNotNull(), 1).otherwise(0).alias("n_hops"),
        F.col("__next").isNull().alias("done"),
    )
    # the hop table: where each crawled URL points (terminal rows point
    # nowhere and stop the fold)
    hop = state.select(
        F.col("src").alias("__t"),
        F.col("final_url").alias("__t_final"),
        F.col("n_hops").alias("__t_hops"),
        F.col("done").alias("__t_done"),
    )
    rounds = max(1, math.ceil(math.log2(max_hops)))
    for _ in range(rounds):
        state = (
            state.join(hop, state["final_url"] == hop["__t"], "left")
            .select(
                "src",
                F.when(
                    state["done"] | F.col("__t").isNull(), state["final_url"]
                ).otherwise(F.col("__t_final")).alias("final_url"),
                F.when(
                    state["done"] | F.col("__t").isNull(), state["n_hops"]
                ).otherwise(
                    F.least(
                        state["n_hops"] + F.col("__t_hops"), F.lit(max_hops)
                    )
                ).alias("n_hops"),
                (
                    state["done"]
                    | F.col("__t").isNull()  # target outside the crawl
                    | F.col("__t_done")
                ).alias("done"),
            )
            .localCheckpoint(eager=False)
        )
        hop = state.select(
            F.col("src").alias("__t"),
            F.col("final_url").alias("__t_final"),
            F.col("n_hops").alias("__t_hops"),
            F.col("done").alias("__t_done"),
        )
    return state.select(
        F.col("src").alias(url_col + "_canonical"),
        "final_url",
        "n_hops",
        (~F.col("done")).alias("unresolved"),
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-URL dedup: one row per canonical URL with the
    first-occurrence survivor (min id — deterministic) and the
    duplicate count.  Narrow canonicalization + ONE hash aggregation
    (map-side partials) — the exact-dedup shape at any scale."""
    canon = canonicalize_urls(df, url_col=url_col)
    return canon.groupBy("canonical_url").agg(
        F.min(id_col).alias("survivor_" + id_col),
        F.count(F.lit(1)).alias("n_dups"),
    )
