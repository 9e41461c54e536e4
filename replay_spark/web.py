"""Crawl-ingest tier: WARC records and HTML → text, pure stdlib.

The front half of a CommonCrawl-shaped LLM pipeline — the stages that
run BEFORE the dedup/quality/tokenize tiers this engine already has:

* :func:`parse_warc` / :func:`split_warc_gz` — ISO 28500 WARC record
  parsing (version line, named headers, Content-Length-delimited
  block) including the real-world ``.warc.gz`` framing: one gzip
  MEMBER per record, split with stdlib zlib (``unused_data``
  chaining). :func:`build_warc` synthesizes valid records for tests
  and contract gates.
* :func:`warc_records` — the DataFrame op: binary WARC payloads →
  one row per record (type, target URI, content type, HTTP-stripped
  body) via ``mapInPandas``; archives never touch the driver.
* :class:`HtmlTextExtractor` — crawl-to-text extraction with the
  stdlib ``html.parser``: drops ``script``/``style``/``noscript``/
  ``template`` subtrees and comments, decodes entities, emits
  whitespace-collapsed visible text plus the ``<title>``. This is
  the trafilatura/jusText slot; the extraction heuristics there are
  swappable, the Spark plumbing (Arrow batches, schema, column
  contract) is the part that has to be right at 100 TB.

No reference counterpart (LLM-pipeline extension).
"""

from __future__ import annotations

import gzip
import io
import zlib
from html.parser import HTMLParser
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
)

from replay_spark.utils.spark_utils import fixpoint, map_rows, release

__all__ = [
    "parse_warc",
    "split_warc_gz",
    "build_warc",
    "warc_records",
    "HtmlTextExtractor",
    "UrlFilter",
    "RobotsMatcher",
    "RobotsFilter",
    "HtmlLinkExtractor",
    "LinkGraphRank",
    "UrlCanonicalizer",
]


# -- WARC -----------------------------------------------------------------


def parse_warc(payload: bytes) -> list:
    """Parse a (plain) WARC file into records: ``[{version, headers,
    content}]``. Headers are a dict with original-case keys; lookup
    helpers below use casefold. Raises ValueError on malformed
    framing."""
    if payload is None or not bytes(payload[:5]) == b"WARC/":
        raise ValueError("not a WARC payload")
    data = bytes(payload)
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos:].strip(b"\r\n") == b"":
            break
        eol = data.index(b"\r\n", pos)
        version = data[pos:eol].decode("ascii", "replace")
        if not version.startswith("WARC/"):
            raise ValueError(f"bad WARC version line {version!r}")
        pos = eol + 2
        headers: dict = {}
        while True:
            eol = data.index(b"\r\n", pos)
            line = data[pos:eol]
            pos = eol + 2
            if not line:
                break
            key, _, value = line.partition(b":")
            headers[key.decode("ascii", "replace").strip()] = (
                value.decode("utf-8", "replace").strip()
            )
        length = int(
            next(
                (v for k, v in headers.items()
                 if k.casefold() == "content-length"),
                "0",
            )
        )
        content = data[pos : pos + length]
        if len(content) != length:
            raise ValueError("WARC content block truncated")
        pos += length
        if data[pos : pos + 4] != b"\r\n\r\n":
            raise ValueError("WARC record missing trailing CRLFCRLF")
        pos += 4
        records.append(
            {"version": version, "headers": headers, "content": content}
        )
    if not records:
        raise ValueError("WARC payload holds no records")
    return records


def split_warc_gz(payload: bytes) -> bytes:
    """Decompress a ``.warc.gz`` (concatenated gzip MEMBERS, one per
    record — the CommonCrawl framing) into the plain WARC byte
    stream, member by member via zlib ``unused_data`` chaining."""
    data = bytes(payload)
    out = bytearray()
    while data:
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(data)
        out += d.flush()
        if not d.eof:
            raise ValueError("truncated gzip member in .warc.gz")
        data = d.unused_data
    return bytes(out)


def build_warc(records, gzip_members: bool = False) -> bytes:
    """Synthesize a valid WARC file from ``[(warc_type, target_uri,
    content_type, content_bytes)]`` — the test/gate twin of
    :func:`parse_warc`. ``gzip_members=True`` emits the
    one-gzip-member-per-record ``.warc.gz`` framing."""
    out = bytearray()
    for i, (wtype, uri, ctype, content) in enumerate(records):
        content = bytes(content)
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: {wtype}\r\n"
            f"WARC-Record-ID: <urn:uuid:rec-{i}>\r\n"
            + (f"WARC-Target-URI: {uri}\r\n" if uri else "")
            + (f"Content-Type: {ctype}\r\n" if ctype else "")
            + f"Content-Length: {len(content)}\r\n\r\n"
        ).encode("ascii")
        record = head + content + b"\r\n\r\n"
        if gzip_members:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                g.write(record)
            out += buf.getvalue()
        else:
            out += record
    return bytes(out)


def _strip_http(content: bytes) -> bytes:
    """WARC response records carry the HTTP message; the body starts
    after the first CRLFCRLF."""
    idx = content.find(b"\r\n\r\n")
    return content[idx + 4 :] if idx >= 0 else content


def warc_records(
    df: DataFrame,
    payload_column: str = "payload",
    id_column: str = "media_id",
) -> DataFrame:
    """Explode binary WARC payloads into one row per record:
    ``(id, record_index, warc_type, target_uri, content_type,
    content)`` — response records have their HTTP envelope stripped
    so ``content`` is the document body. Gzip-member framing is
    detected per payload by magic. Runs in ``mapInPandas``; archives
    never leave the executor."""

    def extract(payload):
        raw = bytes(payload)
        if raw[:2] == b"\x1f\x8b":
            raw = split_warc_gz(raw)
        for i, rec in enumerate(parse_warc(raw)):
            hdr = {k.casefold(): v for k, v in rec["headers"].items()}
            wtype = hdr.get("warc-type", "")
            body = rec["content"]
            if wtype == "response":
                body = _strip_http(body)
            yield (
                i, wtype, hdr.get("warc-target-uri"),
                hdr.get("content-type"), body,
            )

    return map_rows(
        df,
        [payload_column],
        extract,
        [
            id_column,
            ("record_index", IntegerType()),
            ("warc_type", StringType()),
            ("target_uri", StringType()),
            ("content_type", StringType()),
            ("content", BinaryType()),
        ],
    )


# -- HTML → text ----------------------------------------------------------

_SKIP_TAGS = {"script", "style", "noscript", "template"}
# tags that break text flow: entering/leaving one inserts a separator
# so "<h1>Head</h1><p>line</p>" reads "Head line", not "Headline"
_BLOCK_TAGS = {
    "p", "div", "br", "li", "ul", "ol", "tr", "td", "th", "table",
    "h1", "h2", "h3", "h4", "h5", "h6", "section", "article", "header",
    "footer", "blockquote", "pre", "hr", "dd", "dt", "figcaption",
}


class _TextExtractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.chunks: list = []
        self.title_chunks: list = []
        self._skip = 0
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip += 1
        elif tag == "title":
            self._in_title = True
        elif tag in _BLOCK_TAGS:
            self.chunks.append(" ")

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip:
            self._skip -= 1
        elif tag == "title":
            self._in_title = False
        elif tag in _BLOCK_TAGS:
            self.chunks.append(" ")

    def handle_data(self, data):
        if self._skip:
            return
        if self._in_title:
            self.title_chunks.append(data)
        else:
            self.chunks.append(data)


class HtmlTextExtractor:
    """HTML → visible text (+ title), executor-side.

    ``transform`` appends ``output_column`` (whitespace-collapsed
    text outside script/style/noscript/template subtrees, entities
    decoded) and ``title_column``. The stdlib parser is
    error-tolerant (real crawl HTML is never well-formed); rows
    whose markup still defeats it yield empty text rather than
    failing the batch.
    """

    def __init__(
        self,
        html_column: str = "html",
        output_column: str = "text",
        title_column: str = "title",
    ):
        self.html_column = html_column
        self.output_column = output_column
        self.title_column = title_column

    @staticmethod
    def extract(html: str) -> tuple:
        """(text, title) for one document — driver/test convenience."""
        p = _TextExtractor()
        p.feed(html or "")
        p.close()
        text = " ".join("".join(p.chunks).split())
        title = " ".join("".join(p.title_chunks).split())
        return text, title

    def transform(self, df: DataFrame) -> DataFrame:
        extract = self.extract

        def run(h):
            try:
                yield extract(h)
            except Exception:
                yield "", ""

        return map_rows(
            df,
            [self.html_column],
            run,
            [
                *df.columns,
                (self.output_column, StringType()),
                (self.title_column, StringType()),
            ],
        )


# -- URL filtering --------------------------------------------------------


class UrlFilter:
    """C4/RefinedWeb-style URL filtering — the cheap pre-download
    gate a crawl pipeline runs before fetching or processing a page:

    * ``blocked_domains``: drop when the URL host IS or ENDS WITH a
      listed domain (suffix match on dot boundaries, so ``spam.com``
      blocks ``ads.spam.com`` but not ``notspam.com``);
    * ``blocked_extensions``: drop by trailing path extension
      (assets: css/js/images/archives — not documents);
    * ``blocked_substrings``: drop when the whole URL contains any
      listed fragment (the C4 "bad words in URL" rule).

    All matching is pure JVM regex/string expressions on a 1-column
    projection — RE2-compatible patterns so the contract oracle can
    replay them, no UDFs, trivially pushdown-friendly. ``flags``
    returns the per-rule booleans for auditing; ``filter`` keeps
    passing rows.
    """

    DEFAULT_EXTENSIONS = (
        "css", "js", "json", "xml", "png", "jpg", "jpeg", "gif", "webp",
        "svg", "ico", "mp4", "mp3", "avi", "zip", "gz", "tar", "exe",
        "woff", "woff2", "ttf", "pdf",
    )

    def __init__(
        self,
        url_column: str = "url",
        blocked_domains: tuple = (),
        blocked_extensions: Optional[tuple] = None,
        blocked_substrings: tuple = (),
    ):
        self.url_column = url_column
        self.blocked_domains = tuple(d.lower() for d in blocked_domains)
        self.blocked_extensions = tuple(
            e.lower().lstrip(".")
            for e in (
                self.DEFAULT_EXTENSIONS
                if blocked_extensions is None
                else blocked_extensions
            )
        )
        self.blocked_substrings = tuple(blocked_substrings)

    def flags(self, df: DataFrame) -> DataFrame:
        url = F.lower(F.col(self.url_column))
        host = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
        # strip port / userinfo
        host = F.regexp_replace(
            F.regexp_replace(host, r"^[^@]*@", ""), r":[0-9]+$", ""
        )
        path = F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
        ext = F.regexp_extract(path, r"\.([a-z0-9]+)$", 1)
        dom_hit = F.lit(False)
        for d in self.blocked_domains:
            dom_hit = dom_hit | (host == d) | host.endswith("." + d)
        ext_hit = (
            ext.isin(*self.blocked_extensions)
            if self.blocked_extensions
            else F.lit(False)
        )
        sub_hit = F.lit(False)
        for s in self.blocked_substrings:
            sub_hit = sub_hit | url.contains(s.lower())
        return df.withColumn("blocked_domain", dom_hit).withColumn(
            "blocked_extension", ext_hit
        ).withColumn("blocked_substring", sub_hit).withColumn(
            "url_blocked",
            F.col("blocked_domain")
            | F.col("blocked_extension")
            | F.col("blocked_substring"),
        )

    def filter(self, df: DataFrame) -> DataFrame:
        return (
            self.flags(df)
            .filter(~F.col("url_blocked"))
            .select(df.columns)
        )


class UrlCanonicalizer:
    """RFC 3986-style URL canonicalization — the normalization pass a
    crawl frontier and URL-level dedup both need (the same raw page
    arrives as ``HTTP://Example.com:80/a?utm_source=x&b=1#frag`` and
    ``http://example.com/a?b=1``):

    * scheme and host lower-cased;
    * default port stripped (``:80`` for http, ``:443`` for https);
    * fragment dropped;
    * tracking query parameters removed (``utm_*`` prefixes plus a
      configurable name list: gclid/fbclid/...);
    * remaining query parameters sorted byte-wise (order-insensitive
      canonical form); an emptied query drops its ``?``;
    * empty path becomes ``/``; optional ``www.`` stripping.

    The whole pass is ONE projection of RE2-compatible
    ``regexp_extract`` + array expressions — JVM-side, zero UDFs,
    replayable by the DuckDB contract oracle, and trivially fused
    into the scan at 100 TB (no shuffle, no Python). Rows that do
    not look like ``scheme://`` URLs pass through trimmed and
    unchanged (the op is total; a filter must see every row).
    """

    DEFAULT_TRACKING_PARAMS = (
        "gclid", "fbclid", "msclkid", "mc_eid", "igshid", "spm",
        "ref", "ref_src",
    )
    DEFAULT_TRACKING_PREFIXES = ("utm_",)

    _URL_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"

    def __init__(
        self,
        url_column: str = "url",
        output_column: str = "canonical_url",
        tracking_params: tuple = DEFAULT_TRACKING_PARAMS,
        tracking_prefixes: tuple = DEFAULT_TRACKING_PREFIXES,
        strip_www: bool = False,
    ):
        self.url_column = url_column
        self.output_column = output_column
        self.tracking_params = tuple(p.lower() for p in tracking_params)
        self.tracking_prefixes = tuple(
            p.lower() for p in tracking_prefixes
        )
        self.strip_www = strip_www

    def _canonical_expr(self):
        url = F.trim(F.col(self.url_column))
        scheme = F.lower(F.regexp_extract(url, self._URL_RE, 1))
        authority = F.lower(F.regexp_extract(url, self._URL_RE, 2))
        path = F.regexp_extract(url, self._URL_RE, 3)
        query = F.regexp_extract(url, self._URL_RE, 4)

        host = F.regexp_replace(authority, ":[0-9]+$", "")
        port = F.regexp_extract(authority, ":([0-9]+)$", 1)
        if self.strip_www:
            host = F.regexp_replace(host, r"^www\.", "")
        keep_port = (port != "") & ~(
            ((scheme == "http") & (port == "80"))
            | ((scheme == "https") & (port == "443"))
        )
        norm_auth = F.when(keep_port, F.concat_ws(":", host, port)).otherwise(
            host
        )

        norm_path = F.when(path == "", F.lit("/")).otherwise(path)

        def is_tracking(p):
            name = F.lower(F.split(p, "=", 2).getItem(0))
            cond = F.lit(False)
            for t in self.tracking_params:
                cond = cond | (name == t)
            for pre in self.tracking_prefixes:
                cond = cond | name.startswith(pre)
            return cond

        params = F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~is_tracking(p),
        )
        norm_query = F.array_join(F.array_sort(params), "&")

        base = F.concat(scheme, F.lit("://"), norm_auth, norm_path)
        canon = F.when(
            norm_query != "", F.concat(base, F.lit("?"), norm_query)
        ).otherwise(base)
        return F.when(scheme != "", canon).otherwise(url)

    def transform(self, df: DataFrame) -> DataFrame:
        return df.withColumn(self.output_column, self._canonical_expr())

    def deduplicate(self, df: DataFrame, tie_column: Optional[str] = None):
        """URL-level dedup on the canonical form: one row per
        canonical URL, the minimum ``tie_column`` winning (pass a
        unique id column for a fully deterministic pick; the default
        raw-URL tie falls back to an arbitrary-but-single row among
        byte-identical raw URLs). One map-side-combined groupBy plus
        a keyed join — no window over the full corpus."""
        tie = tie_column or self.url_column
        canon = self.transform(df)
        winners = canon.groupBy(self.output_column).agg(
            F.min(tie).alias("_keep")
        )
        return (
            canon.join(winners, on=self.output_column, how="inner")
            .filter(F.col(tie) == F.col("_keep"))
            .drop("_keep")
            .dropDuplicates([self.output_column])
        )


# -- robots.txt (RFC 9309) ------------------------------------------------


class RobotsMatcher:
    """Robots Exclusion Protocol matcher (RFC 9309 semantics): parse
    one robots.txt, select the most specific matching user-agent
    group ('*' fallback), and answer path queries with
    LONGEST-MATCH-WINS, allow-beats-disallow-on-tie — the Googlebot
    rules, a superset of stdlib ``urllib.robotparser`` (which has no
    wildcard support). ``*`` matches any run of characters, a
    trailing ``$`` anchors the end of the path.

    Pure Python by design: rule sets are tiny (per-domain), and the
    Spark operator below parses each DISTINCT robots.txt once per
    Arrow batch, so the cost at 100 TB is per-domain, not per-URL.
    """

    def __init__(self, robots_txt: str, user_agent: str = "*"):
        groups: dict[str, list] = {}
        current: list[str] = []
        rules_open = False
        for raw in (robots_txt or "").splitlines():
            line = raw.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            key, _, value = line.partition(":")
            key = key.strip().lower()
            value = value.strip()
            if key == "user-agent":
                if rules_open:
                    current = []
                    rules_open = False
                current.append(value.lower())
                for ua in current:
                    groups.setdefault(ua, [])
            elif key in ("allow", "disallow"):
                if not current:
                    continue
                rules_open = True
                if value:
                    for ua in current:
                        groups[ua].append((key == "allow", value))
            # crawl-delay/sitemap etc. are ignored for matching
        ua = user_agent.lower()
        chosen = None
        # most specific group: the longest group token contained in
        # our user-agent string; '*' only as fallback
        best_len = -1
        for token, rules in groups.items():
            if token != "*" and token in ua and len(token) > best_len:
                chosen, best_len = rules, len(token)
        if chosen is None:
            chosen = groups.get("*", [])
        self.rules = [
            (allow, pat, self._compile(pat)) for allow, pat in chosen
        ]

    @staticmethod
    def _compile(pattern: str):
        import re as _re

        anchored = pattern.endswith("$")
        body = pattern[:-1] if anchored else pattern
        rx = "".join(
            ".*" if ch == "*" else _re.escape(ch) for ch in body
        )
        return _re.compile(rx + (r"\Z" if anchored else ""))

    def allowed(self, path: str) -> bool:
        """True when the longest matching rule allows (or no rule
        matches). ``path`` is the URL path (+ optional query)."""
        if not path.startswith("/"):
            path = "/" + path
        verdict, best = True, -1
        for allow, pat, rx in self.rules:
            if rx.match(path):
                size = len(pat)
                if size > best or (size == best and allow and not verdict):
                    verdict, best = allow, size
        return verdict


class RobotsFilter:
    """Evaluate per-URL robots.txt admission over a DataFrame that
    carries the URL and its domain's robots.txt body (join the tiny
    per-domain robots table to the URL frame with a broadcast join
    first — domains are small by construction).

    ``transform`` adds ``robots_allowed``; ``filter`` keeps admitted
    rows. Runs in ``mapInPandas`` with a per-batch matcher cache
    keyed by (robots_txt, user_agent), so each distinct robots body
    is parsed once per batch — per-domain cost, per-URL evaluation
    only. No reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        url_column: str = "url",
        robots_column: str = "robots_txt",
        user_agent: str = "*",
    ):
        self.url_column = url_column
        self.robots_column = robots_column
        self.user_agent = user_agent

    @staticmethod
    def _path_of(url: str) -> str:
        from urllib.parse import urlsplit

        parts = urlsplit(url)
        path = parts.path or "/"
        if parts.query:
            path += "?" + parts.query
        return path

    def transform(self, df: DataFrame) -> DataFrame:
        agent = self.user_agent
        path_of = self._path_of

        def evaluate(cache: dict, url, robots):
            body = robots or ""
            m = cache.get(body)
            if m is None:
                m = RobotsMatcher(body, agent)
                cache[body] = m
            yield (m.allowed(path_of(url)),)

        return map_rows(
            df,
            [self.url_column, self.robots_column],
            evaluate,
            [*df.columns, ("robots_allowed", BooleanType())],
            per_batch=dict,
        )

    def filter(self, df: DataFrame) -> DataFrame:
        return (
            self.transform(df)
            .filter(F.col("robots_allowed"))
            .select(df.columns)
        )


# -- link extraction ------------------------------------------------------


class _LinkParser(HTMLParser):
    """Collect (href, anchor-text) pairs from ``<a>`` elements."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.links: list = []
        self._open = 0

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self.links.append([dict(attrs).get("href"), []])
            self._open += 1

    def handle_endtag(self, tag):
        if tag == "a" and self._open:
            self._open -= 1

    def handle_data(self, data):
        if self._open and self.links:
            self.links[-1][1].append(data)


class HtmlLinkExtractor:
    """Outlink extraction — the crawl-frontier op that pairs with
    :class:`HtmlTextExtractor`: one row per ``<a href>`` with its
    in-page index, raw href, optional base-resolved absolute URL
    (stdlib ``urljoin`` — relative paths, ``..`` segments, fragment
    and protocol-relative forms), and the whitespace-collapsed,
    entity-decoded anchor text. href-less anchors are skipped.

    ``mapInPandas``; pages never touch the driver; downstream the
    resolved URLs feed :class:`UrlFilter` / :class:`RobotsFilter`
    before the next fetch round — the full pre-crawl chain is now
    composable in one DataFrame plan. No reference counterpart
    (LLM-pipeline extension).
    """

    def __init__(
        self,
        id_column: str = "doc_id",
        html_column: str = "html",
        base_url_column: Optional[str] = None,
    ):
        self.id_column = id_column
        self.html_column = html_column
        self.base_url_column = base_url_column

    def transform(self, df: DataFrame) -> DataFrame:
        from urllib.parse import urljoin

        hc, bc = self.html_column, self.base_url_column

        def extract(html_text, base=None):
            parser = _LinkParser()
            parser.feed(html_text or "")
            parser.close()
            li = 0
            for href, parts in parser.links:
                if href is None:
                    continue
                yield (
                    li,
                    href,
                    urljoin(base, href) if base else href,
                    " ".join("".join(parts).split()),
                )
                li += 1

        return map_rows(
            df,
            [hc] + ([bc] if bc else []),
            extract,
            [
                self.id_column,
                ("link_index", LongType()),
                ("href", StringType()),
                ("resolved_url", StringType()),
                ("anchor", StringType()),
            ],
        )


# -- link-graph centrality ------------------------------------------------


class LinkGraphRank:
    """PageRank by power iteration over an edge DataFrame — the
    crawl-prioritization signal (CommonCrawl publishes exactly this
    family of ranks) computed from :class:`HtmlLinkExtractor`
    output: ``rank(v) = (1−d)/N + d·(Σ_{u→v} rank(u)/deg(u) +
    dangling/N)``.

    The distinct edge list is stored once, and rounds run on
    ``spark_utils.fixpoint``: round 0 stores the (node, out-degree)
    table and observes N; each iteration joins the ranks to the edges
    (one shuffle on src), sums them per dst and joins back onto the
    nodes, with N and the dangling mass the previous round observed
    as literals — no broadcast aggregate, no collect, and no action
    besides the stores. Float summation order makes
    ranks reproducible only to ~1e-15, so the contract gate is
    rows-only; convergence and closed-form graph values are pinned
    by tests. No reference counterpart (LLM-pipeline extension).
    """

    def __init__(
        self,
        damping: float = 0.85,
        iterations: int = 10,
        src_column: str = "src",
        dst_column: str = "dst",
    ):
        if not 0 < damping < 1:
            raise ValueError("damping must be in (0, 1)")
        if iterations < 1:
            raise ValueError("iterations must be >= 1")
        self.damping = damping
        self.iterations = iterations
        self.src_column = src_column
        self.dst_column = dst_column

    def rank(self, edges: DataFrame) -> DataFrame:
        """``[node, rank]`` over the union of sources and targets;
        ranks sum to 1."""
        d = self.damping
        src, dst = self.src_column, self.dst_column
        e = (
            edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        deg = e.groupBy("_s").agg(F.count("*").alias("_deg"))
        nodes = (
            e.select(F.col("_s").alias("node"))
            .union(e.select(F.col("_d").alias("node")))
            .distinct()
        )
        dangling = F.coalesce(
            F.sum(F.when(F.col("_deg").isNull(), F.col("rank"))), F.lit(0.0)
        ).alias("dangling")
        size: dict = {}  # N, observed by round 0

        def step(ranks: DataFrame, seen: dict) -> Optional[DataFrame]:
            if not seen:  # round 0: every rank is 1 until N is known
                return (
                    nodes.join(deg, nodes["node"] == deg["_s"], how="left")
                    .select("node", "_deg", F.lit(1.0).alias("rank"))
                    .observe("pagerank", F.count("*").alias("n"), dangling)
                )
            observed = seen["pagerank"]
            if observed.get("n") == 0:
                return None
            # round 1 reads round 0's unit ranks as 1/N
            scale = 1.0 / observed["n"] if "n" in observed else 1.0
            n = size.setdefault("n", observed.get("n"))
            dm = observed["dangling"] * scale
            contrib = (
                ranks.filter(F.col("_deg").isNotNull())
                .join(e, ranks["node"] == e["_s"])
                .select(
                    F.col("_d").alias("node"),
                    (F.col("rank") * scale / F.col("_deg")).alias("_c"),
                )
                .groupBy("node")
                .agg(F.sum("_c").alias("_in"))
            )
            return (
                ranks.join(contrib, on="node", how="left")
                .select(
                    "node",
                    "_deg",
                    (
                        (1.0 - d) / n
                        + d * (F.coalesce(F.col("_in"), F.lit(0.0)) + dm / n)
                    ).alias("rank"),
                )
                .observe("pagerank", dangling)
            )

        ranks, _, _ = fixpoint(
            e, step, self.iterations + 1, "LinkGraphRank"
        )
        release(e)
        return ranks.select("node", "rank")
