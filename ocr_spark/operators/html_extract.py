"""T8 — HTML main-content extraction (boilerplate strip).

North-star operator (BASELINE.json): Boilerpipe/Readability-style text-density
+ link-density scoring over a flattened DOM-node table. No code exists for it
in the reference (hOCR/HTML appears only as a future output format,
ref OCR-X_Evolution_Roadmap.md:59-60), so the precise rule below is THIS
engine's spec — implemented twice (here, vectorized; and independently in
tests/reference_impl_html.py) and locked by golden fixtures.

Spec
----
1. Parse the document with an event-based parser. Maintain a stack of open
   tags. Text inside <script>/<style>/<head>/<title>/<noscript> is ignored.
2. A *block* opens at every block-level tag in BLOCK_TAGS; each text run
   belongs to the innermost open block (document order preserved). Text with
   an <a> ancestor counts toward the block's link_text_len.
3. Per block, normalize each text run (whitespace squeezed, stripped, joined
   with single spaces) and compute:
       text_len        chars of normalized block text
       link_text_len   chars contributed by runs inside <a>
       n_words         whitespace-split word count
       link_density    link_text_len / max(text_len, 1)
4. keep(block) =
       no ancestor in BOILERPLATE_TAGS (nav/header/footer/aside)
   AND (   (link_density <= 1/3 AND n_words >= 4)
        OR (block tag is h1..h6 AND n_words >= 1 AND link_density == 0) )
5. Output text = kept block texts joined with '\n' in document order.

The flattened node table (FIXTURES.md §3) is exposed by `dom_nodes_df` for
unit-testing the scorer in isolation.
"""

from __future__ import annotations

from html.parser import HTMLParser

import numpy as np

BLOCK_TAGS = {
    "p", "div", "article", "section", "li", "td", "th", "blockquote", "pre",
    "h1", "h2", "h3", "h4", "h5", "h6", "body", "ul", "ol", "table", "tr",
    "nav", "header", "footer", "aside", "main", "figcaption",
}
BOILERPLATE_TAGS = {"nav", "header", "footer", "aside"}
IGNORE_TAGS = {"script", "style", "head", "title", "noscript"}
HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
VOID_TAGS = {
    "br", "hr", "img", "input", "meta", "link", "area", "base", "col",
    "embed", "source", "track", "wbr",
}


class _FlattenParser(HTMLParser):
    """Flatten a document into (block_id, tag, depth, text_run, in_link,
    in_boiler) events. One pass, O(doc)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[str] = []  # open tags
        self.block_stack: list[int] = []  # open block ids
        self.blocks: list[dict] = []  # block records in open order
        self.ignore_depth = 0
        self.link_depth = 0
        self.boiler_depth = 0

    def _open_block(self, tag: str) -> None:
        bid = len(self.blocks)
        self.blocks.append(
            {
                "tag": tag,
                "depth": len(self.stack),
                "parent": self.block_stack[-1] if self.block_stack else -1,
                "runs": [],
                "link_runs": [],
                "boiler": self.boiler_depth > 0 or tag in BOILERPLATE_TAGS,
            }
        )
        self.block_stack.append(bid)

    def handle_starttag(self, tag, attrs):
        if tag in VOID_TAGS:
            return
        self.stack.append(tag)
        if tag in IGNORE_TAGS:
            self.ignore_depth += 1
        if tag == "a":
            self.link_depth += 1
        if tag in BOILERPLATE_TAGS:
            self.boiler_depth += 1
        if tag in BLOCK_TAGS:
            self._open_block(tag)

    def handle_endtag(self, tag):
        if tag in VOID_TAGS:
            return
        # pop to the matching open tag (forgiving of unbalanced HTML)
        if tag not in self.stack:
            return
        while self.stack:
            top = self.stack.pop()
            if top in IGNORE_TAGS:
                self.ignore_depth = max(0, self.ignore_depth - 1)
            if top == "a":
                self.link_depth = max(0, self.link_depth - 1)
            if top in BOILERPLATE_TAGS:
                self.boiler_depth = max(0, self.boiler_depth - 1)
            if top in BLOCK_TAGS and self.block_stack:
                self.block_stack.pop()
            if top == tag:
                break

    def handle_data(self, data):
        if self.ignore_depth > 0 or not data or data.isspace():
            return
        if not self.block_stack:
            self._open_block("body")
        bid = self.block_stack[-1]
        run = " ".join(data.split())
        if not run:
            return
        self.blocks[bid]["runs"].append(run)
        if self.link_depth > 0:
            self.blocks[bid]["link_runs"].append(run)


def flatten_dom(html: str) -> list[dict]:
    """Parse one document → list of block records (node table rows)."""
    p = _FlattenParser()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        pass  # forgiving parse: score whatever was accumulated
    rows = []
    for bid, b in enumerate(p.blocks):
        text = " ".join(b["runs"])
        link_len = sum(len(r) for r in b["link_runs"]) + max(0, len(b["link_runs"]) - 1)
        rows.append(
            {
                "node_id": bid,
                "parent_id": b["parent"],
                "depth": b["depth"],
                "tag": b["tag"],
                "text": text,
                "text_len": len(text),
                "link_text_len": min(link_len, len(text)) if b["link_runs"] else 0,
                "n_words": len(text.split()),
                "boiler": b["boiler"],
            }
        )
    return rows


def score_blocks(rows: list[dict]) -> np.ndarray:
    """Vectorized keep-mask over the flattened node table (spec step 4)."""
    if not rows:
        return np.zeros(0, dtype=bool)
    text_len = np.array([r["text_len"] for r in rows], dtype=np.float64)
    link_len = np.array([r["link_text_len"] for r in rows], dtype=np.float64)
    n_words = np.array([r["n_words"] for r in rows], dtype=np.int64)
    boiler = np.array([r["boiler"] for r in rows], dtype=bool)
    heading = np.array([r["tag"] in HEADING_TAGS for r in rows], dtype=bool)
    link_density = link_len / np.maximum(text_len, 1.0)
    keep = ~boiler & (
        ((link_density <= 1.0 / 3.0) & (n_words >= 4))
        | (heading & (n_words >= 1) & (link_density == 0.0))
    )
    # blocks with no text never survive
    keep &= text_len > 0
    return keep


def extract_main_text(html: str) -> str:
    """Per-document T8: flatten → score → join kept blocks with '\\n'."""
    rows = flatten_dom(html)
    keep = score_blocks(rows)
    return "\n".join(r["text"] for r, k in zip(rows, keep) if k)


def dom_nodes_df(spark, docs_df):
    """Expose the flattened DOM-node table (FIXTURES.md §3) as a DataFrame —
    one row per block of every html span. Arrow-batched mapInPandas."""
    import pandas as pd

    from ocr_spark.schema import DOM_NODE_SCHEMA

    def gen(batches):
        for pdf in batches:
            out = {k.name: [] for k in DOM_NODE_SCHEMA.fields}
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                for s in spans:
                    if s["kind"] != "html" or s["text"] is None:
                        continue
                    rows = flatten_dom(s["text"])
                    keep = score_blocks(rows)
                    for r, k in zip(rows, keep):
                        out["doc_id"].append(doc_id)
                        out["node_id"].append(r["node_id"])
                        out["parent_id"].append(r["parent_id"])
                        out["depth"].append(r["depth"])
                        out["tag"].append(r["tag"])
                        out["text"].append(r["text"])
                        out["text_len"].append(r["text_len"])
                        out["link_text_len"].append(r["link_text_len"])
                        out["n_words"].append(r["n_words"])
                        out["keep"].append(bool(k))
            yield pd.DataFrame(out)

    return docs_df.mapInPandas(gen, schema=DOM_NODE_SCHEMA)


# ---------------------------------------------------------------------------
# Crawl-hygiene metadata: robots directives, canonical URL, document
# language, title. A web-scale corpus build drops noindex'd pages (the
# publisher opted out of indexing) and collapses canonical-URL duplicates
# BEFORE content dedup ever runs — this is the cheapest dedup signal a
# crawl carries. Same one-pass stdlib-HTMLParser approach as the
# extractor; robots semantics follow the public Robots Meta Tag spec
# (name="robots"/bot-specific, comma-separated case-insensitive tokens).
# ---------------------------------------------------------------------------


class _MetadataParser(HTMLParser):
    """Collect head/meta signals in one forgiving pass."""

    def __init__(self, agent: str | None = None) -> None:
        super().__init__(convert_charrefs=True)
        # meta names honored: the generic "robots" always; a bot-specific
        # name (e.g. "googlebot") ONLY when it equals this pipeline's own
        # agent token — a directive addressed to someone else's crawler is
        # not a page-wide opt-out (Robots Meta Tag spec: bot-specific names
        # bind only the named bot)
        self._names = {"robots"} | ({agent.lower()} if agent else set())
        self.robots_tokens: set[str] = set()
        self.canonical: str | None = None
        self.base_href: str | None = None
        self.lang: str | None = None
        self.title_runs: list[str] = []
        self._in_title = 0

    def handle_starttag(self, tag, attrs):
        a = {k.lower(): (v or "") for k, v in attrs}
        if tag == "html" and self.lang is None:
            lang = a.get("lang") or a.get("xml:lang")
            if lang:
                self.lang = lang.strip().lower()
        elif tag == "meta":
            name = a.get("name", "").strip().lower()
            if name in self._names and "content" in a:
                for tok in a["content"].split(","):
                    tok = tok.strip().lower()
                    if tok:
                        self.robots_tokens.add(tok)
        elif tag == "link":
            rels = a.get("rel", "").lower().split()
            if "canonical" in rels and a.get("href") and self.canonical is None:
                self.canonical = a["href"].strip()
        elif tag == "base":
            if a.get("href") and self.base_href is None:
                self.base_href = a["href"].strip()
        elif tag == "title":
            self._in_title += 1

    def handle_endtag(self, tag):
        if tag == "title":
            self._in_title = max(0, self._in_title - 1)

    def handle_data(self, data):
        if self._in_title and data:
            self.title_runs.append(data)


def html_metadata(
    html: str, doc_url: str | None = None, agent: str | None = None
) -> dict:
    """One document → {noindex, nofollow, canonical_url, base_href, lang,
    title}. `none` implies both noindex and nofollow (robots spec);
    malformed HTML degrades to whatever was parsed, never raises.

    `agent` is this pipeline's own crawler token: only <meta name="robots">
    and <meta name="{agent}"> directives bind; a directive addressed to a
    DIFFERENT named bot (googlebot, bingbot, ...) is ignored — it is that
    bot's opt-out, not the page's.

    canonical_url is RESOLVED (RFC 3986 §5) when a base is available:
    <base href> wins over doc_url, and a relative <base href> is itself
    resolved against doc_url first — the order browsers apply. With no
    base at all, a relative canonical is returned as written."""
    from ocr_spark.functions.url import resolve_url

    p = _MetadataParser(agent)
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        pass
    toks = p.robots_tokens
    base = doc_url
    if p.base_href:
        base = resolve_url(doc_url, p.base_href) if doc_url else p.base_href
    canonical = p.canonical
    if canonical is not None and base:
        canonical = resolve_url(base, canonical)
    return {
        "noindex": "noindex" in toks or "none" in toks,
        "nofollow": "nofollow" in toks or "none" in toks,
        "canonical_url": canonical,
        "base_href": p.base_href,
        "lang": p.lang,
        "title": " ".join(" ".join(p.title_runs).split()) or None,
    }


def html_metadata_df(
    docs_df,
    html_col: str = "text",
    id_col: str = "doc_id",
    url_col: str | None = None,
    agent: str | None = None,
):
    """(id, noindex, nofollow, canonical_url, base_href, lang, title) per
    document — Arrow-batched mapInPandas, no shuffle: the frame keeps its
    scan partitioning, so the typical next step (filter noindex, groupBy
    canonical_url for URL-level dedup) pays the only exchange."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            docs_df.schema[id_col],
            T.StructField("noindex", T.BooleanType()),
            T.StructField("nofollow", T.BooleanType()),
            T.StructField("canonical_url", T.StringType()),
            T.StructField("base_href", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("title", T.StringType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if url_col is not None:
                urls = [u if isinstance(u, str) else None for u in pdf[url_col]]
            else:
                urls = [None] * len(pdf)
            metas = [
                html_metadata(h, u, agent=agent)
                for h, u in zip(pdf[html_col].fillna(""), urls)
            ]
            out = pd.DataFrame(metas)
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    cols = [id_col, html_col] + ([url_col] if url_col else [])
    return docs_df.select(*cols).mapInPandas(gen, schema=schema)
