"""Quirk-ledger regression tests (SURVEY.md appendix): faithful bugs
must stay faithful. Quirks not covered elsewhere: Q3, Q4, Q9, Q10.
(Q5/Q6/Q7/Q8/Q11/Q12/Q13 are asserted in test_html_engine,
test_formatters, test_video, and q23's oracle.)"""

from pyspark.sql import functions as F

from web_scraper_spark.html.clean import DROP_TAGS, clean_html, extract_text
from web_scraper_spark.operators.text import char_token_estimate, whitespace_token_count


def test_q3_css_like_drop_entries_are_inert():
    """The reference's decompose list includes CSS-ish strings that its
    parser treats as literal tag names — elements with such classes
    must NOT be dropped (contxt/scraper.py:280-284)."""
    assert "[class*='menu']" in DROP_TAGS
    html = '<body><div class="menu">menu-classed content</div></body>'
    assert "menu-classed content" in extract_text(html)


def test_q4_svg_text_regex_is_noop():
    """The SVG-strip regex runs on text nodes, which cannot contain
    markup; and <svg> elements are already decomposed — text mentioning
    'svg' survives (contxt/scraper.py:307-315)."""
    html = "<body><p>discussing &lt;svg&gt; syntax here</p><svg><circle/></svg></body>"
    text = extract_text(html)
    assert "discussing <svg> syntax here" in text
    assert "circle" not in text


def test_q9_token_unit_inconsistency_is_preserved(spark):
    """The reference sums whitespace word counts (YouTube path) and
    len//4 estimates (page path) into one total — different units,
    faithfully preserved as distinct counters that callers may sum
    (contxt/scraper.py:533-534 vs :407-426; summed cli.py:288)."""
    df = spark.createDataFrame([("four words right here",)], "text string")
    row = df.select(
        whitespace_token_count(F.col("text")).alias("ws"),
        char_token_estimate(F.col("text")).alias("est"),
    ).collect()[0]
    assert row["ws"] == 4          # word count
    assert row["est"] == len("four words right here") // 4  # 5 — differs


def test_q10_duplicate_image_remap_by_hash(spark):
    """Duplicate images (same content hash) remap to the first
    winner's path; the winner is deterministic (min media_id), unlike
    the reference's mutate-while-iterating dict probe
    (contxt/scraper.py:467-474) — same outcome, made deterministic."""
    from web_scraper_spark.operators.multimodal import (
        extract_media_features,
        media_dedup,
        synth_media,
    )

    media = synth_media(spark, 30).repartition(4)
    feats = extract_media_features(media)
    deduped = media_dedup(feats)
    rows = deduped.collect()
    # synth_media generates payload groups of 3 consecutive ids
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r["content_hash"], []).append(r)
    for h, winners in by_hash.items():
        assert len(winners) == 1  # one winner per content hash
    assert any(r["copies"] >= 3 for r in rows)  # dups existed
    # winner is the min id of its group
    assert all(r["media_id"] % 3 == 0 or r["copies"] == 1 for r in rows)


def test_frame_sample_plumbing(spark):
    """Multimodal frame-sample plumbing: fan-out multiplicity and
    determinism under repartition (decode is the documented
    deterministic fake)."""
    from web_scraper_spark.operators.multimodal import sample_frames, synth_media

    media = synth_media(spark, 30).repartition(4)
    frames = sample_frames(media, every_n=2)
    rows = frames.collect()
    assert rows and all(r["frame_idx"] % 2 == 0 for r in rows)
    # deterministic under different partitioning
    again = sample_frames(synth_media(spark, 30).repartition(7), every_n=2)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
