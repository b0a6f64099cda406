"""HTML main-content extraction (boilerplate removal) — the first
stage of every public web-corpus pipeline (C4, CCNet, RefinedWeb strip
navigation/ads/footer chrome before any quality filter runs).

The classifier is a deterministic jusText-lite heuristic (Pomikálek
2011, public): pages split into BLOCKS at block-level tag boundaries;
each block scores a link density (anchor-text chars / block text
chars) and a length; short or link-dense blocks are boilerplate, the
rest is main content. The full pipeline — tag stripping, block
splitting, per-block metrics, classification, re-assembly — is pure
Catalyst column expressions over array lambdas (`transform`/`filter`/
`aggregate`): per-row maps with NO shuffle, no UDF, no explode, so it
scales embarrassingly parallel to any corpus size and stays inside
whole-stage codegen except the lambda stages themselves.

Regex discipline: every pattern compiles identically under Java regex
(Spark) and RE2 (DuckDB oracle) — inline flags `(?is)`, non-greedy
`.*?`, non-capturing groups only, NO pattern backreferences (RE2 has
none; script/style removal is two passes instead of `</\\1>`).

The reference has no web-corpus surface (its corpus is structured
claims — SURVEY §2); this family extends the engine per the
LLM-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Block-level elements whose open/close tags delimit text blocks
#: (inline elements — <a>, <b>, <span> — do NOT split). `header` must
#: precede `head` so alternation prefers the longer name identically
#: in both engines.
BLOCK_TAG_SPLIT = (
    r"(?i)</?(?:p|div|nav|footer|header|article|section|ul|ol|li"
    r"|h1|h2|h3|h4|h5|h6|table|tr|td|th|blockquote|body|html|head"
    r"|title|br|hr)[^>]*>"
)

#: Stopwords for the content-text stopword-fraction metric (a jusText
#: signal, reported not gated — gating on it would misclassify valid
#: technical paragraphs that happen to lack function words).
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "for", "on", "with"]


def wrap_documents_html(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministically wrap plain-text documents into a synthetic web
    page: nav chrome, a short teaser, the text chunked into <p> blocks
    of 15 words, an ad block, and a link-dense footer. This is the
    test-harness INPUT SIDE only (the corpus tables carry clean text);
    a real deployment feeds captured HTML straight to
    ``html_main_content``. The wrapper is reproducible in ANSI SQL so
    the DuckDB oracle can synthesize byte-identical pages.

    Guarded by ``ensure_min_partitions`` (r18): the page synthesis and
    the downstream block classification are heavy per-row expression
    chains, and a single-row-group parquet corpus yields a ONE-task
    scan that serializes all of it (profiled at sf0.1: one 1.23 s
    single-task stage carrying the whole extraction). On multi-file
    corpora the guard is a no-op."""
    from ..sources.readers import ensure_min_partitions

    df = ensure_min_partitions(df)
    t = F.col(text_col)
    teaser = F.array_join(F.slice(F.split(t, " "), 1, 4), " ")
    body = F.regexp_replace(t, r"((?:\S+ ){15})", r"$1</p><p>")
    return df.select(
        F.col(id_col),
        F.concat(
            F.lit(
                "<html><head><title>doc</title><style>.m{color:red}"
                "</style><script>var q=1;</script></head><body>"
                '<nav><a href="/">Home</a> <a href="/tags">Tags</a> '
                '<a href="/login">Login</a></nav><p>'
            ),
            teaser,
            F.lit("</p><p>"),
            body,
            F.lit(
                '</p><div><a href="/buy">Buy now</a> '
                '<a href="/click">Click here</a> limited offer</div>'
                '<footer>(c) 2024 <a href="/tos">Terms</a> '
                '<a href="/priv">Privacy</a></footer></body></html>'
            ),
        ).alias("html"),
    )


def html_main_content(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_chars: int = 40,
    max_link_density: float = 0.3,
) -> DataFrame:
    """Extract main content from an HTML column: blocks whose stripped
    text has ≥ ``min_chars`` chars AND anchor-text density ≤
    ``max_link_density`` are content; the rest is boilerplate.

    Returns (id, n_blocks, n_content_blocks, content_chars,
    boiler_chars, main_text, stop_frac): block counts, char masses on
    both sides of the classification, the re-assembled main text (block
    order preserved — array lambdas keep positions), and the content's
    stopword fraction (one exact-int IEEE division — oracle-bitwise).

    Scale: a single per-row projection — no shuffle, no explode, no
    UDF; the only non-codegen stages are the array lambdas, which are
    still JVM-side and Arrow-free. Pages are bounded (~MBs); the block
    arrays never leave the row."""
    h = F.col(html_col)
    c = F.regexp_replace(h, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    # staged intermediate columns (not inlined) — lambda expressions
    # sit outside codegen CSE (tests/test_plan_shapes.py discipline)
    raw = df.select(F.col(id_col), F.split(c, BLOCK_TAG_SPLIT).alias("_raw"))
    structs = raw.select(
        id_col,
        F.filter(
            F.transform(
                "_raw",
                lambda b: F.struct(
                    F.trim(
                        F.regexp_replace(
                            F.regexp_replace(b, r"<[^>]*>", " "), r"\s+", " "
                        )
                    ).alias("txt"),
                    F.aggregate(
                        F.regexp_extract_all(b, F.lit(r"(?is)<a[^>]*>(.*?)</a>"), 1),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + F.length(x),
                    ).alias("link_len"),
                ),
            ),
            lambda s: F.length(s["txt"]) > 0,
        ).alias("_bs"),
    )

    def is_content(s: Column) -> Column:
        return (F.length(s["txt"]) >= F.lit(min_chars)) & (
            s["link_len"].cast("double")
            / F.length(s["txt"]).cast("double")
            <= F.lit(float(max_link_density))
        )

    parts = structs.select(
        id_col,
        "_bs",
        F.filter("_bs", is_content).alias("_content"),
        F.filter("_bs", lambda s: ~is_content(s)).alias("_boiler"),
    )

    def char_mass(col: str) -> Column:
        return F.aggregate(
            col,
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.length(s["txt"]),
        )

    main_text = F.array_join(
        F.transform("_content", lambda s: s["txt"]), " "
    )
    out = parts.select(
        id_col,
        F.size("_bs").cast("long").alias("n_blocks"),
        F.size("_content").cast("long").alias("n_content_blocks"),
        char_mass("_content").alias("content_chars"),
        char_mass("_boiler").alias("boiler_chars"),
        main_text.alias("main_text"),
    )
    words = F.split(F.lower(F.col("main_text")), " ")
    n_stop = F.size(
        F.filter(
            words,
            lambda w: F.array_contains(
                F.array([F.lit(s) for s in STOPWORDS]), w
            ),
        )
    ).cast("long")
    return out.withColumn(
        "stop_frac",
        F.when(F.length("main_text") == 0, F.lit(0.0)).otherwise(
            n_stop.cast("double") / F.size(words).cast("double")
        ),
    )
