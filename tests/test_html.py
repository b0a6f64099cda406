"""HTML main-content extraction (operators/html.py): hand-built pages
with known block structure and boilerplate classification edges."""

from __future__ import annotations

from intelligent_fraud_detection_system_using_machine_learning_and_hadoop_spark.operators.html import (
    html_main_content,
    wrap_documents_html,
)


def _extract(spark, html):
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    return html_main_content(df).first()


def test_classification_hand_page(spark):
    body = "word " * 19 + "word"  # 20 words, 99 chars -> content
    page = (
        '<html><body><nav><a href="/">Home</a> <a href="/x">More</a></nav>'
        f"<p>{body}</p>"
        "<p>short teaser</p>"
        f'<div>{body} with one <a href="/in">inline link</a></div>'
        '<footer><a href="/tos">Terms</a> <a href="/p">Privacy</a></footer>'
        "</body></html>"
    )
    r = _extract(spark, page)
    # blocks: nav, p(content), p(short), div(content incl. inline link),
    # footer -> 5 non-empty blocks, 2 content
    assert r["n_blocks"] == 5
    assert r["n_content_blocks"] == 2
    assert r["main_text"].startswith(body)
    assert "Home" not in r["main_text"] and "Terms" not in r["main_text"]
    assert "inline link" in r["main_text"]  # inline <a> does not split
    assert r["content_chars"] == len(r["main_text"]) - 1  # join adds 1 sp
    assert r["boiler_chars"] > 0


def test_link_dense_long_block_is_boilerplate(spark):
    # long enough, but almost all chars are anchor text
    links = " ".join(f'<a href="/{i}">related article number {i}</a>' for i in range(8))
    r = _extract(spark, f"<html><body><div>{links}</div></body></html>")
    assert r["n_blocks"] == 1
    assert r["n_content_blocks"] == 0
    assert r["main_text"] == ""
    assert r["stop_frac"] == 0.0


def test_wrapper_roundtrip_recovers_text(spark):
    # a 40-word doc: every 15-word chunk is long enough to classify as
    # content, so extraction recovers the original text exactly
    text = " ".join(f"token{i:02d}" for i in range(40))
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    r = html_main_content(wrap_documents_html(df)).first()
    # teaser (4 words, short) + ad + nav + footer rejected; body chunks kept
    assert r["main_text"] == text
    assert r["n_content_blocks"] == 3  # 15 + 15 + 10 words
    assert r["boiler_chars"] > 0


def test_stop_frac_exact(spark):
    r = _extract(
        spark,
        "<html><body><p>the cat sat on the mat with a very long tail "
        "beside a warm fire</p></body></html>",
    )
    assert r["n_content_blocks"] == 1
    words = r["main_text"].split(" ")
    stops = {"the", "a", "of", "to", "and", "in", "is", "for", "on", "with"}
    expect = sum(w in stops for w in words) / len(words)
    assert r["stop_frac"] == expect
