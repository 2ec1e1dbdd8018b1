"""URL/domain ingest hygiene (RefinedWeb / CCNet front-door filtering).

Web-scale corpora arrive keyed by URL; the first two things every
pipeline does with that key are (1) drop documents from blocklisted
hosts/domains and (2) cap how many documents any single domain may
contribute, so one template-heavy site cannot flood the training mix
(RefinedWeb §3.1 "URL filtering", CCNet's per-domain accounting). The
reference's analog is its suffix/ledger key filtering over S3 object
keys (/root/reference/src/aws_bucket.py:176,180) — generalized here
from object keys to web URLs.

Everything is built-in-function only (JVM-side): host extraction is one
RE2-portable regexp per row, the blocklist rides a broadcast anti-join,
and the per-domain cap is a domain-partitioned WindowGroupLimit — the
corpus itself never shuffles except for that capped window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.binding import let_sql
from .joins import small_side, sql_string
from .sampling import seed_hash_sql

# RE2-portable (no backreferences / lookaround, runs identically under
# Java regex and DuckDB's RE2): scheme, optional userinfo, then the
# host = a bracketed IPv6 literal ([::1] — the ':' inside the brackets
# is not a port separator) or everything up to the first '/', '?',
# '#', or ':' (port).
HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?(\[[^/?#\]]*\]|[^/?#:]+)"

# Registered-domain approximation: the last two dot-separated labels.
# The default when no public-suffix list is supplied; pass
# ``suffixes=frozen_suffixes()`` for co.uk-style ccTLD suffixes.
DOMAIN_RE = r"([^.]+\.[^.]+)$"


def frozen_suffixes(path: str | None = None) -> list[str]:
    """The committed public-suffix table
    (artifacts/public_suffixes.json — a curated subset of the Mozilla
    Public Suffix List's public-domain ICANN section). Same
    freeze/apply seam as the frozen LM/classifier artifacts: the table
    is metadata-sized public data, committed so both engines replay
    identical literals; production swaps in the full published list
    without touching the operator (the lookup goes through
    ``joins.small_side``, agnostic to list size). Loaded once per
    process (tiny, cached)."""
    from ..functions.artifacts import load_artifact

    return load_artifact(path, "public_suffixes.json")["suffixes"]


def _last_labels_re(k: int) -> str:
    """RE2-portable 'last k dot-separated labels' extractor — anchored,
    counted repetition, no lookaround; identical under Java regex and
    DuckDB's RE2."""
    return r"((?:[^.]+\.){%d}[^.]+)$" % (k - 1)


def extract_host(
    df: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    domain_col: str = "domain",
    suffixes: list[str] | None = None,
) -> DataFrame:
    """Add lowercased ``host`` and registered-``domain`` columns parsed
    from ``url_col``. URLs with no parseable host (relative paths,
    garbage) get empty-string host/domain — kept visible rather than
    nulled so audit counts can see them. Trailing dots are stripped
    (``example.com.`` is the DNS fully-qualified form of the SAME
    host — without the strip a trailing-dot URL would bypass every
    host/domain blocklist entry). Narrow, pushdown-friendly.

    ``suffixes`` (e.g. ``frozen_suffixes()``) switches the registered-
    domain rule from the two-label default to a public-suffix-list
    longest-suffix match: the host's trailing 2..4 labels are tested
    against the listed suffixes with one membership test per suffix
    depth through ``joins.small_side`` (an ``IN`` literal up to
    ``joins.INLINE_MAX_BYTES``, a broadcast left equi join past it —
    never an OR-predicate nested loop; both tiers give the same rows,
    and the quotes and backslashes in a suffix are escaped in the
    literal), the LONGEST listed suffix wins, and the registered
    domain is that suffix plus one preceding label. Without this, ``www.bbc.co.uk``
    maps to domain ``co.uk`` — so a blocklist entry ``bbc.co.uk``
    never matches via the domain anti-join and every ``.co.uk`` site
    pools into one domain-cap key (over-capping plus a hot window
    partition on a UK-heavy crawl). A host that IS a bare listed
    suffix degrades to itself. Scale shape: the suffix table is
    metadata-sized (full PSL ~ 10^4 rows — kilobytes), so either tier
    leaves the corpus side shuffle-free."""
    host = F.regexp_replace(
        F.lower(F.regexp_extract(F.col(url_col), HOST_RE, 1)),
        r"\.+$",
        "",
    )
    out = df.withColumn(host_col, host)
    default_dom = F.regexp_extract(F.col(host_col), DOMAIN_RE, 1)
    if suffixes is None:
        return out.withColumn(domain_col, default_dom)

    by_depth = {}
    for s in suffixes:
        k = s.count(".") + 1
        if k < 2 or k > 4:
            raise ValueError(
                f"extract_host: suffix {s!r} has {k} labels; supported "
                "depths are 2-4 (single-label TLDs are the implicit "
                "default rule)"
            )
        by_depth.setdefault(k, set()).add(s.lower())
    # one small side per suffix depth through joins.small_side: an
    # ``_last{k} IN (...)`` literal (join-free, O(1) probe per row, no
    # broadcast-build jobs) up to joins.INLINE_MAX_BYTES, a broadcast
    # left join past it (the full 10^4-row published PSL)
    for k in sorted(by_depth):
        out = small_side(
            df.sparkSession, [(s,) for s in by_depth[k]], "_sfx string"
        ).mark(
            out.withColumn(
                f"_last{k}",
                F.regexp_extract(F.col(host_col), _last_labels_re(k), 1),
            ),
            f"_last{k}",
            f"_m{k}",
        )
    dom = default_dom
    for k in sorted(by_depth):  # ascending: deeper match overrides
        reg = F.regexp_extract(F.col(host_col), _last_labels_re(k + 1), 1)
        dom = F.when(
            F.col(f"_m{k}"),
            # host shorter than suffix+1 labels -> the host itself
            F.when(reg != "", reg).otherwise(F.col(host_col)),
        ).otherwise(dom)
    out = out.withColumn(domain_col, dom)
    return out.drop(*[c for k in by_depth for c in (f"_last{k}", f"_m{k}")])


def url_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    block_col: str = "pattern",
    suffixes: list[str] | None = None,
) -> DataFrame:
    """Drop documents whose URL host OR registered domain appears in the
    blocklist (RefinedWeb-style URL filtering). A blocklist entry
    therefore blocks either one exact host (``ads.example.com``) or an
    entire registered domain (``example.com`` blocks every subdomain).

    Returns the kept ``docs`` rows with ``host`` and ``domain``
    columns attached.

    Scale shape: blocklists are list-sized (RefinedWeb's is ~4.6M
    entries — megabytes), so both checks are BROADCAST left-anti
    equi-joins; an OR-predicate join would degrade to a
    BroadcastNestedLoopJoin, which is why the host and domain checks
    are two separate equi anti-joins. The corpus side never shuffles.
    Follows decontaminate's broadcast-side discipline
    (operators/text.py).

    ``suffixes`` (e.g. ``frozen_suffixes()``) applies the public-
    suffix-list registered-domain rule — required for a domain entry
    like ``example.co.uk`` to actually block its subdomains (under the
    two-label default the derived domain would be ``co.uk`` and the
    entry never matches)."""
    b = F.broadcast(
        blocklist.select(F.lower(F.col(block_col)).alias("_blk")).distinct()
    )
    withhost = extract_host(docs, url_col, suffixes=suffixes)
    # two sequential equi anti-joins; unqualified F.col is unambiguous
    # because "_blk" exists only on the (broadcast) right side
    kept = withhost.join(b, F.col("host") == F.col("_blk"), "left_anti")
    return kept.join(b, F.col("domain") == F.col("_blk"), "left_anti")


def domain_caps(
    docs: DataFrame,
    k: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    seed: int = 0,
    suffixes: list[str] | None = None,
) -> DataFrame:
    """Per-domain contribution cap: keep at most ``k`` documents per
    registered domain, chosen by deterministic hash order (hash(seed:id)
    ascending, id tie-break) so the kept subset is reproducible across
    runs and engines and is an unbiased within-domain sample — the
    anti-flooding rule that stops a single boilerplate-heavy site from
    dominating the mix.

    Returns the kept rows with ``host``/``domain`` attached.

    The cap key degrades gracefully: registered domain when one
    parses, else the bare host (single-label intranet names like
    ``localhost`` cap per-host instead of pooling), else — for URLs
    with no parseable host at all — a per-doc unique key, so garbage
    URLs pass through UNCAPPED rather than being lumped into one ''
    pseudo-domain where (a) unrelated documents would cap each other
    out and (b) a single window partition would weld a garbage-heavy
    crawl onto one hot task.

    Scale shape: ONE window partitioned by the cap key — parallelism
    scales with key cardinality (millions at web scale, so no hot
    task even for the garbage tier, whose keys are per-doc), and
    Catalyst rewrites the rank+filter into WindowGroupLimit
    (per-partition partial top-k BEFORE the shuffle, so at most k rows
    per key per input partition ever move). This is the
    sample_group_k shape (operators/sampling.py
    sample_exact_per_group), re-keyed on the extracted domain.

    ``suffixes`` (e.g. ``frozen_suffixes()``) applies the public-
    suffix-list registered-domain rule to the cap key — without it a
    UK-heavy crawl pools every ``.co.uk`` site into ONE cap key
    (over-capping unrelated sites AND a hot window partition)."""
    h = F.expr(seed_hash_sql(seed, f"`{id_col}`"))
    # \x00 prefix keeps the per-doc fallback keys out of the host/
    # domain value space (no real host contains a NUL)
    cap_key = (
        F.when(F.col("domain") != "", F.col("domain"))
        .when(F.col("host") != "", F.col("host"))
        .otherwise(
            F.concat_ws(
                ":", F.lit("\x00uncapped"), F.col(id_col).cast("string")
            )
        )
    )
    w = Window.partitionBy(cap_key).orderBy(h.asc(), F.col(id_col).asc())
    return (
        extract_host(docs, url_col, suffixes=suffixes)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(k))
        .drop("_rn")
    )


# Scheme + optional userinfo + authority (host[:port]) — the full
# prefix ahead of the case-sensitive path/query. Per RFC 3986
# §6.2.2.1 only the SCHEME and HOST inside it are case-insensitive;
# userinfo is case-sensitive and must survive verbatim, so the
# canonicalizer splits the prefix with the two sub-regexes below.
PREFIX_RE = r"^([A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?[^/?#]*)"
SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*://)"
USERINFO_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#@]*@)"


def canonicalize_url(
    df: DataFrame, url_col: str = "url", out_col: str = "url_norm"
) -> DataFrame:
    """RFC-3986-style URL canonicalization ahead of URL-level dedup:
    drop the fragment (``#...`` never reaches the server, so two URLs
    differing only there are the same resource) and lowercase the
    scheme and host[:port] (case-insensitive per §6.2.2.1), keeping
    userinfo, path and query byte-verbatim (all case-SENSITIVE —
    ``UserA@`` and ``usera@`` are different identities on real
    servers, so lowercasing them would merge distinct URLs). Strings
    with no scheme://host prefix pass through fragment-stripped but
    otherwise untouched. Narrow per-row string work; all regexes
    RE2-portable, so the DuckDB oracle replays it exactly."""
    head = "length(scheme) + length(userinfo)"
    hostport = f"substring(nf, {head} + 1, length(pre) - ({head}))"
    rest = "substring(nf, length(pre) + 1, length(nf))"
    norm = let_sql(
        f"regexp_replace(`{url_col}`, '#.*', '')",
        "nf",
        let_sql(
            f"regexp_extract(nf, {sql_string(PREFIX_RE)}, 1)",
            "pre",
            let_sql(
                f"regexp_extract(nf, {sql_string(SCHEME_RE)}, 1)",
                "scheme",
                let_sql(
                    f"regexp_extract(nf, {sql_string(USERINFO_RE)}, 1)",
                    "userinfo",
                    f"concat(lower(scheme), userinfo, lower({hostport}), {rest})",
                ),
            ),
        ),
    )
    return df.withColumn(out_col, F.expr(norm))


def url_dedup(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level exact dedup (CCNet §3.1 dedups by URL before any
    content pass — re-crawls and mirrors of the same page share a
    canonical URL long before their bytes are compared): canonicalize,
    then keep the lowest-id document per canonical URL.

    Returns one row per input doc: (doc_id, url_norm, canonical_id,
    keep) — the ``dedup_exact`` contract keyed on the URL instead of
    the content digest, so it composes with ``dedup_corpus``'s ledger
    the same way.

    Scale shape: groupBy(key).min(id) + an equi-join back —
    deliberately the dedup_exact shape, NOT a per-URL window, so a hot
    canonical URL (a front page crawled millions of times) lands in a
    map-side-combined aggregate and an AQE-splittable join, never one
    window task.

    A NULL url is not "equal" to other NULL urls — each such doc is
    its own singleton cluster (keep=true, canonical_id=itself) via a
    per-doc fallback key, instead of vanishing through the
    null-rejecting equi-join (which would break the one-audit-row-
    per-input-doc contract)."""
    withn = canonicalize_url(docs, url_col).withColumn(
        "_ukey",
        F.coalesce(
            F.col("url_norm"),
            F.concat_ws(":", F.lit("\x00nourl"), F.col(id_col).cast("string")),
        ),
    )
    canon = withn.groupBy("_ukey").agg(
        F.min(F.col(id_col)).alias("canonical_id")
    )
    return withn.join(canon, "_ukey").select(
        F.col(id_col),
        "url_norm",
        "canonical_id",
        (F.col(id_col) == F.col("canonical_id")).alias("keep"),
    )


# RE2-portable markup patterns (inline (?is) flags and non-greedy .*?
# are supported identically by Java regex and RE2; no backreferences).
SCRIPT_STYLE_RE = r"(?is)<(?:script|style)[^>]*>.*?</(?:script|style)>"
BLOCK_BREAK_RE = r"(?i)<br[^>]*>|</(?:p|div|li|h[1-6]|tr)>"
TAG_RE = r"<[^>]*>"
ENTITY_RE = r"&(?:amp|lt|gt|quot|nbsp|#39);"
# decode order matters: &amp; LAST, so '&amp;lt;' decodes to the
# literal '&lt;' (single-pass HTML semantics), not '<'
HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def html_clean(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Markup stripping — the extraction stage every web pipeline runs
    BEFORE any line/quality rule (trafilatura/jusText's job; this is
    the deterministic regex tier for pre-extracted or lightly tagged
    text): drop <script>/<style> blocks wholesale (their contents are
    code, not prose), turn block-level closers and <br> into newlines
    (so ``c4_line_filter`` sees real line structure), strip remaining
    tags, decode the six ubiquitous entities (&amp; last — single-pass
    HTML semantics), collapse horizontal whitespace, and tidy newline
    runs.

    Returns one row per doc: (doc_id, n_tags, n_entities, text_clean)
    — the tag/entity counts are measured on the INPUT, so a document
    that was already clean shows 0/0 and passes through byte-stable
    (fixpoint-tested).

    Entity scope (deliberate): the SIX named entities below cover the
    overwhelming share of real markup; numeric character references
    (``&#xNN;`` / ``&#NN;``) pass through VERBATIM — they are rare in
    prose, and decoding them portably would need per-codepoint chr()
    on both engines. Corpora that lean on numeric references should
    add a decode tier behind this one.

    Scale shape: narrow per-row regexp/replace chain, no shuffle, no
    UDF; every regex is RE2-portable so the DuckDB oracle replays the
    pipeline verbatim (gate ``html_clean``)."""
    t = F.col(text_col)
    cleaned = F.regexp_replace(t, SCRIPT_STYLE_RE, " ")
    cleaned = F.regexp_replace(cleaned, BLOCK_BREAK_RE, "\n")
    cleaned = F.regexp_replace(cleaned, TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        cleaned = F.replace(cleaned, F.lit(ent), F.lit(ch))
    cleaned = F.regexp_replace(cleaned, r"[ \t\x0B\f\r]+", " ")
    # btrim (not trim): block closers at document end leave a trailing
    # newline that a space-only trim would keep
    cleaned = F.btrim(
        F.regexp_replace(cleaned, r" ?(\n ?)+", "\n"), F.lit(" \n")
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(t, F.lit(TAG_RE), F.lit(0)))
        .cast("long")
        .alias("n_tags"),
        F.size(F.regexp_extract_all(t, F.lit(ENTITY_RE), F.lit(0)))
        .cast("long")
        .alias("n_entities"),
        cleaned.alias("text_clean"),
    )
