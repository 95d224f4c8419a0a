"""Crawl and text cases: URL canonicalization, robots gating, the quality
classifier and sequence packing; HTML → Markdown; outlink parsing, the
domain graph, PageRank and the crawl frontier.

Pages and URLs are built natively in the plan (concat expressions), so the
Python cost measured is the operator's, not fixture generation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.functions.idn import normalize_urls_idn
from ocr_spark.operators.corpus_clean import pack_sequences, pack_stats
from ocr_spark.operators.frontier import crawl_frontier
from ocr_spark.operators.html_markdown import html_markdown_df
from ocr_spark.operators.links import domain_centrality, domain_link_graph, html_links_df
from ocr_spark.operators.robots import robots_annotate
from ocr_spark.operators.text_analysis import quality_classifier

from . import phase

CRAWL_HOSTS = 10_000


def bench_crawl_ops(spark, n: int) -> dict:
    """Crawl-permission and packing operators — robots_filter,
    url_normalize_idn, quality_classifier, pack_sequences — over n synthetic
    docs: urls over 10,000 hosts (1% IDN, 1/7 under a disallowed path),
    ~60-token text.

    Exactness: every IDN host is canonicalized, the robots gate blocks
    exactly the planted /private docs on listed hosts, every doc survives
    the classifier and the packer, and packing into 256 buckets of
    2048-token sequences fills them above 90% — a bound that holds only
    once each bucket holds several sequences' worth of docs."""
    H = CRAWL_HOSTS
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("http://"),
            F.when(F.col("id") % 100 == 0, F.lit("bücher")).otherwise(
                F.concat(F.lit("h"), (F.col("id") % H).cast("string"))
            ),
            F.lit(".example/"),
            F.when(F.col("id") % 7 == 0, F.lit("private/")).otherwise(F.lit("p/")),
            F.col("id").cast("string"),
            F.lit("?utm_source=x&q=1"),
        ).alias("url"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(30) + (F.col("id") % 60).cast("int")),
                lambda i: F.concat(
                    F.lit("tok"), ((F.col("id") * 31 + i) % 5000).cast("string")
                ),
            ),
        ).alias("text"),
    ).persist()
    docs.count()
    fig: dict = {}

    # 1) URL canonicalization incl. IDN sparse path (1% non-ASCII hosts).
    # Raw-attribute gate so the url_normalize tree evaluates ~once per
    # row (see url_normalize_idn docstring for the measured plan-shape
    # comparison: 7.1 s vs 12.8 s normalized-host gate vs 43-110 s
    # staged-attribute at 200k rows).
    with phase(fig, "normalize_urls_idn"):
        out = normalize_urls_idn(docs.select("doc_id", "url"), "url")
        cnt = out.filter(F.col("url").contains("xn--bcher-kva")).count()
    assert cnt == n // 100, cnt  # every IDN host canonicalized

    # 2) robots permission gate: H-host broadcast table, 1/7 disallowed
    robots_tab = spark.range(H).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example")).alias("host"),
        F.lit("User-agent: *\nDisallow: /private\n").alias("robots_txt"),
    )
    with phase(fig, "robots_filter"):
        blocked = robots_annotate(docs, robots_tab).filter(~F.col("robots_allowed")).count()
    # /private docs on listed hosts are blocked; IDN hosts (id%100==0)
    # have no robots row -> allowed
    expect = sum(1 for i in range(0, n, 7) if i % 100 != 0)
    assert blocked == expect, (blocked, expect)

    # 3) learned quality classifier
    with phase(fig, "quality_classifier"):
        out = quality_classifier(docs)
        fig["kept"] = out.filter(F.col("quality_keep")).count()
        total = out.count()
    assert total == n

    # 4) context-window packing + fill stats
    with phase(fig, "pack_sequences"):
        packed = pack_sequences(docs, max_tokens=2048, n_buckets=256)
        st = pack_stats(packed, 2048).first()
    docs.unpersist()
    assert st["n_docs"] == n
    assert st["mean_fill"] > 0.9, st["mean_fill"]
    fig.update(n_seqs=st["n_seqs"], mean_fill=float(st["mean_fill"]))
    return fig


def bench_html_markdown(spark, n: int) -> dict:
    """HTML → Markdown extractor (html_markdown.py): render a synthetic
    crawl of structured pages (heading, nav boilerplate, paragraphs with
    emphasis + links, a nested list, a fenced code block, a pipe table, a
    blockquote) through html_markdown_df.

    Exactness: every page is the SAME 8-block template parameterized by doc
    id, so the output shape is closed-form — n_blocks == 8 for every doc,
    exactly 3 resolved links and 1 heading per doc, and the nav boilerplate
    never leaks into the markdown."""
    i = F.col("id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>t</title><script>var x=1;</script></head>"
              "<body><nav><a href='/home'>home</a> menu junk</nav>"
              "<h1>Doc "), i, F.lit("</h1>"),
        F.lit("<p>First para of doc "), i,
        F.lit(" with <b>bold</b> and <a href='a/"), i,
        F.lit("'>alpha</a>.</p>"),
        F.lit("<p>Second para <i>italic</i> "
              "<a href='b.html?q=1'>beta</a> text.</p>"),
        F.lit("<p>Third <code>inline()</code> and "
              "<a href='https://other.org/c'>gamma</a>.</p>"),
        F.lit("<ul><li>one<li>two<ul><li>deep</li></ul><li>three</ul>"),
        F.lit("<pre><code class='language-py'>def f():\n    return "), i,
        F.lit("\n</code></pre>"),
        F.lit("<table><tr><th>k</th><th>v</th></tr><tr><td>id</td><td>"), i,
        F.lit("</td></tr></table>"),
        F.lit("<blockquote><p>quoted "), i, F.lit("</p></blockquote>"),
        F.lit("<footer>copyright junk</footer></body></html>"),
    )
    docs = spark.range(n).select(
        i.alias("doc_id"),
        html.alias("text"),
        F.concat(F.lit("https://ex.com/d/"), i, F.lit("/page.html")).alias("url"),
    ).persist()
    docs.count()
    fig: dict = {"avg_html_chars": round(docs.agg(F.avg(F.length("text"))).first()[0], 1)}

    with phase(fig, "render"):
        agg = html_markdown_df(docs, url_col="url").agg(
            F.count("*").alias("rows"),
            F.sum("n_blocks").alias("blocks"),
            F.sum(F.size(F.split(F.col("markdown"), r"\]\(", -1)) - 1).alias("links"),
            F.sum(F.when(F.col("markdown").startswith("# Doc "), 1).otherwise(0)).alias("headed"),
            F.sum(
                F.when(
                    F.col("markdown").contains("menu junk")
                    | F.col("markdown").contains("copyright junk"),
                    1,
                ).otherwise(0)
            ).alias("boiler_leaks"),
            F.sum(F.col("n_chars").cast("long")).alias("chars"),
        ).first()
    docs.unpersist()

    assert agg["rows"] == n, agg["rows"]
    assert agg["blocks"] == 8 * n, agg["blocks"]
    assert agg["links"] == 3 * n, agg["links"]
    assert agg["headed"] == n, agg["headed"]
    assert agg["boiler_leaks"] == 0, agg["boiler_leaks"]
    fig["md_chars_total"] = agg["chars"]
    return fig


LINKS_FANOUT = 5
LINKS_POOL = 997
LINKS_ITERS = 8


def _html_docs(spark, n: int, fanout: int, pool: int):
    """(doc_id, url, html) — html with `fanout` absolute links, one
    nofollow-marked link per 10 docs, one mailto and one #fragment."""
    # target domain: real zipf-ish skew — u uniform in [0,997), u² div 997
    # concentrates density at LOW domain ids (P(target < t) = sqrt(t/997)),
    # so popular domains receive ~sqrt-law more inlinks like a real web graph
    anchors = [
        F.concat(
            F.lit('<a href="https://t'),
            F.expr(
                f"(((id * {7 + k} + {k}) % {pool}) * ((id * {7 + k} + {k}) % {pool}))"
                f" div {pool}"
            ),
            F.lit(".example/p"),
            (F.col("id") + k) % F.lit(50_000),
            F.lit('"'),
            F.when((F.col("id") + k) % 10 == 0, F.lit(' rel="nofollow"')).otherwise(F.lit("")),
            F.lit(">anchor "),
            F.col("id") % F.lit(1000),
            F.lit("</a> "),
        )
        for k in range(fanout)
    ]
    html = F.concat(
        F.lit("<html><body><p>text</p>"),
        *anchors,
        F.lit('<a href="mailto:x@y.example">m</a>'),
        F.lit('<a href="#top">t</a>'),
        F.lit("</body></html>"),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("https://s"), F.col("id") % F.lit(pool), F.lit(".example/d"), F.col("id"),
        ).alias("url"),
        html.alias("html"),
    )


def bench_links(spark, n: int) -> dict:
    """Link family: outlink parse throughput, domain graph, integer PageRank
    rounds, frontier construction — the crawl-side operators (links.py /
    frontier.py).

    Corpus: n docs on 997 source domains, each doc carrying 5 anchors to a
    zipf-ish target domain pool of 997, 10% nofollow, plus a mailto and a
    fragment link that must be dropped.

    Asserted invariants: every kept link row resolves to an http(s) URL
    (exactly fanout per doc), centrality nodes fit the two domain pools,
    and the frontier is non-empty after excluding a seen set of n/2 urls."""
    docs = _html_docs(spark, n, LINKS_FANOUT, LINKS_POOL)
    fig: dict = {}

    with phase(fig, "parse"):
        links = html_links_df(docs).persist()
        n_links = links.count()
    # mailto + fragment dropped; nofollow rows retained (flagged)
    assert n_links == n * LINKS_FANOUT, (n_links, n * LINKS_FANOUT)

    with phase(fig, "graph"):
        graph = domain_link_graph(links).persist()
        fig["n_edges"] = graph.count()

    with phase(fig, "rank"):
        n_nodes = domain_centrality(graph, iters=LINKS_ITERS).count()
    assert n_nodes <= 2 * LINKS_POOL  # src + target domain pools

    seen = links.select(F.col("href").alias("url")).limit(n // 2)
    with phase(fig, "frontier"):
        n_front = crawl_frontier(links, seen_urls=seen).count()
    graph.unpersist()
    links.unpersist()
    assert n_front > 0
    fig.update(n_domains=n_nodes, n_frontier=n_front)
    return fig
