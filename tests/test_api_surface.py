"""The package ships no test-only public function and no option that
only tests set.

Every public top-level def or class in ``web_scraper_spark/`` must be
referenced, as a Name or an Attribute, by code in the package,
``tools/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``; or
be registered with ``@query``; or be listed in ``ALLOWED`` with one
reason. Docstrings and ``__init__`` re-exports are not references (they
are strings and import aliases), and neither is a def's use of its own
name inside its body.

The unreferenced set must equal ``ALLOWED`` exactly: a new function
only tests call fails here, and so does an entry whose function has
gained a caller or is gone.

An option is a defaulted parameter of a public top-level function, or
a defaulted field of a public dataclass. It is set when a call of the
function's (or class's) name in those same production places passes
it by keyword or by position; a dataclass field is also set by an
attribute assignment of its name. ``tests/`` sets nothing, and
neither does a ``*``/``**`` splat, which names no option (positions
from a ``*`` splat on are unknown). The unset options must equal
``OPTIONS_ALLOWED`` exactly.
"""

import ast
import re
from collections import Counter
from itertools import takewhile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "web_scraper_spark"
CALLERS = [PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# name -> reason: the COVERAGE.md code of the paper surface it serves,
# "oracle" for a reference implementation the tests check production
# code against, or "D9" for the bucketed-history lever (ROADMAP D9)
# that has no production caller yet.
ALLOWED = {
    "crawl/config.py::update_config": "S9",
    "crawl/config.py::crawl_config_from": "S9",
    "crawl/robots.py::robots_from_pages": "J5",
    "crawl/simulator.py::simulate_crawl": "oracle",
    "crawl/sitemaps.py::seed_urls_from_sitemaps": "S1",
    "crawl/sitemaps.py::sitemap_seeds_from_robots": "S1",
    "functions/columns.py::is_youtube_url": "P2",
    "functions/columns.py::youtube_url_type": "P3",
    "functions/tokenizer.py::token_ids_column": "A4",
    "html/clean.py::clean_html_str": "D1",
    "html/clean.py::extract_text": "D1",
    "html/clean.py::extract_images": "D7",
    "html/clean.py::extract_links": "P6-P13",
    "html/htmlfmt.py::format_html_document": "D5",
    "html/markdown.py::format_markdown_document": "D3",
    "html/xmlfmt.py::format_xml_document": "D4",
    "operators/video.py::transcript_line": "oracle",
    "operators/video.py::strip_timestamps_raw": "oracle",
    "operators/video.py::render_video_complete": "oracle",
    "operators/video.py::render_video_raw": "oracle",
    "operators/video.py::render_video_chapters": "oracle",
    "operators/video.py::render_container": "oracle",
    "sources/sinks.py::output_extension": "F19",
    "sources/sinks.py::derive_filenames": "S11",
    "sources/sinks.py::write_documents_as_files": "S11",
    "sources/sinks.py::write_jsonl_shards": "S11",
    "sources/sinks.py::write_bucketed": "D9",
    "sources/sinks.py::bucketed_table": "D9",
    "sources/sinks.py::console_sink": "S10",
    "sources/sinks.py::image_map_join": "J1",
    "sources/sinks.py::image_filenames": "S13",
    "sources/warc.py::read_warc_dir": "§2.1",
    "sources/warc.py::write_wet_dir": "§2.1",
    "sources/warc.py::write_warc_dir": "§2.1",
    "streaming/neardup.py::make_near_dup_batch_fn": "§2.10",
    "streaming/neardup.py::read_near_dup_pairs": "§2.10",
    "streaming/neardup.py::compact_near_dup_store": "§2.10",
    "streaming/stateful.py::stream_content_dedup": "§2.10",
    "streaming/stream.py::windowed_fetch_metrics": "§2.10",
    "streaming/stream.py::run_foreachbatch_extraction": "§2.10",
    "streaming/stream.py::warc_segments_stream": "§2.10",
}


# option -> reason, one of:
# - "deployment": a value that depends on where and how the package
#   runs (input globs, the robots user agent, sink write mode and
#   compression, streaming triggers, windows and watermarks);
# - "oracle": a knob of a reference implementation the tests check
#   production code against;
# - a COVERAGE.md code or oracle query: an input of a reference
#   renderer (D3, D4, D5, S7, S11, A4), an input DataFrame (the crawl's
#   blocklist and sitemaps, curate's benchmark), or a behaviour switch
#   a test pins and that code names.
OPTIONS_ALLOWED = {
    "crawl/robots.py::parse_robots(agent)": "deployment",
    "crawl/rounds.py::CrawlConfig.authority_every": "q85",
    "crawl/rounds.py::CrawlConfig.max_scheduled_per_round": "q85",
    "crawl/rounds.py::CrawlConfig.results_products": "S11",
    "crawl/rounds.py::CrawlConfig.round_budget_ms": "S2/S3",
    "crawl/rounds.py::CrawlConfig.trap_filter": "q104_trap_urls",
    "crawl/rounds.py::run_crawl(blocklist)": "q110",
    "crawl/rounds.py::run_crawl(seed_sitemaps)": "S1",
    "crawl/simulator.py::SimConfig.crawl_delay_ms": "oracle",
    "crawl/simulator.py::SimConfig.default_delay_ms": "oracle",
    "crawl/simulator.py::SimConfig.disallow": "oracle",
    "crawl/simulator.py::SimConfig.ignore_patterns": "oracle",
    "crawl/simulator.py::SimConfig.max_depth": "oracle",
    "crawl/simulator.py::SimConfig.quota_per_host": "oracle",
    "crawl/simulator.py::SimConfig.round_budget_ms": "oracle",
    "crawl/simulator.py::simulate_crawl(n_rounds)": "oracle",
    "functions/tokenizer.py::token_ids_column(encoder)": "A4",
    "html/htmlfmt.py::format_html_document(add_boilerplate)": "D5",
    "html/htmlfmt.py::format_html_document(add_css)": "D5",
    "html/htmlfmt.py::format_html_document(clean)": "D5",
    "html/htmlfmt.py::format_html_document(og_metadata)": "D5",
    "html/markdown.py::format_markdown_document(add_frontmatter)": "D3",
    "html/markdown.py::format_markdown_document(date)": "D3",
    "html/markdown.py::format_markdown_document(image_map)": "D3",
    "html/markdown.py::format_markdown_document(images)": "D3",
    "html/markdown.py::format_markdown_document(include_images)": "D3",
    "html/markdown.py::format_markdown_document(include_source_link)": "D3",
    "html/markdown.py::format_markdown_document(og_description)": "D3",
    "html/xmlfmt.py::format_xml_document(images)": "D4",
    "html/xmlfmt.py::format_xml_document(image_map)": "D4",
    "html/xmlfmt.py::format_xml_document(og_metadata)": "D4",
    "html/xmlfmt.py::format_xml_document(preserve_attrs)": "D4",
    "operators/video.py::container_documents(style)": "S7",
    "operators/video.py::render_container(channel_name)": "oracle",
    "operators/video.py::render_video_complete(standalone)": "oracle",
    "pipelines/curate.py::CurationConfig.bench_df": "q73",
    "pipelines/curate.py::CurationConfig.domain_cap_ppm": "q97_domain_cap",
    "pipelines/curate.py::CurationConfig.domain_col": "q97_domain_cap",
    "pipelines/curate.py::CurationConfig.line_dedup_min_df": "q106_line_dedup",
    "pipelines/curate.py::CurationConfig.split_fractions": "q81_hash_split",
    "sources/sinks.py::derive_filenames(custom_name)": "S11",
    "sources/sinks.py::derive_filenames(title_col)": "S11",
    "sources/sinks.py::write_jsonl_shards(compression)": "deployment",
    "sources/sinks.py::write_jsonl_shards(mode)": "deployment",
    "sources/sinks.py::write_bucketed(mode)": "deployment",
    "sources/warc.py::read_warc_dir(glob)": "deployment",
    "streaming/stream.py::pages_stream(max_files_per_trigger)": "deployment",
    "streaming/stream.py::run_foreachbatch_extraction(available_now)": "deployment",
    "streaming/stream.py::warc_segments_stream(glob)": "deployment",
    "streaming/stream.py::warc_segments_stream(max_files_per_trigger)": "deployment",
    "streaming/stream.py::windowed_fetch_metrics(watermark)": "deployment",
    "streaming/stream.py::windowed_fetch_metrics(window)": "deployment",
}


def _sources(roots=CALLERS):
    for src in roots:
        yield from sorted(src.rglob("*.py")) if src.is_dir() else [src]


def _refs(node) -> Counter:
    return Counter(
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    )


def _decorated(d, name: str) -> bool:
    for dec in d.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if (fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)) == name:
            return True
    return False


def _unreferenced() -> set[str]:
    refs, defs = Counter(), []
    for path in _sources():
        tree = ast.parse(path.read_text(encoding="utf-8"))
        refs.update(_refs(tree))
        if PKG in path.parents:
            defs += [
                (f"{path.relative_to(PKG).as_posix()}::{d.name}", d)
                for d in tree.body
                if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not d.name.startswith("_")
                and not _decorated(d, "query")
            ]
    return {key for key, d in defs if refs[d.name] == _refs(d)[d.name]}


def _options() -> list[tuple[str, str, str, int | None, bool]]:
    """(key, owner name, option name, position or None, is a field)."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for d in ast.parse(path.read_text(encoding="utf-8")).body:
            if getattr(d, "name", "_").startswith("_"):
                continue
            if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef)):
                pos = d.args.posonlyargs + d.args.args
                first = len(pos) - len(d.args.defaults)
                out += [
                    (f"{rel}::{d.name}({p.arg})", d.name, p.arg, i, False)
                    for i, p in enumerate(pos) if i >= first
                ]
                out += [
                    (f"{rel}::{d.name}({p.arg})", d.name, p.arg, None, False)
                    for p, v in zip(d.args.kwonlyargs, d.args.kw_defaults) if v is not None
                ]
            elif isinstance(d, ast.ClassDef) and _decorated(d, "dataclass"):
                fields = [
                    f for f in d.body
                    if isinstance(f, ast.AnnAssign) and isinstance(f.target, ast.Name)
                ]
                out += [
                    (f"{rel}::{d.name}.{f.target.id}", d.name, f.target.id, i, True)
                    for i, f in enumerate(fields) if f.value is not None
                ]
    return out


def _unset_options() -> set[str]:
    keywords, n_positional, assigned = {}, Counter(), set()
    for path in _sources():
        for n in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(n, ast.Call):
                fn = n.func
                name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if name is None:
                    continue
                # a ``**`` splat (arg None) names nothing, and no
                # position at or after a ``*`` splat is known
                keywords.setdefault(name, set()).update(
                    k.arg for k in n.keywords if k.arg is not None
                )
                known = takewhile(lambda a: not isinstance(a, ast.Starred), n.args)
                n_positional[name] = max(n_positional[name], len(list(known)))
            elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Store):
                assigned.add(n.attr)
    return {
        key
        for key, owner, name, i, is_field in _options()
        if name not in keywords.get(owner, ())
        and (i is None or n_positional[owner] <= i)
        and not (is_field and name in assigned)
    }


def test_every_public_function_has_a_caller_or_a_reason():
    unreferenced = _unreferenced()
    assert not unreferenced - ALLOWED.keys(), (
        "public functions only tests call — delete them, give them a "
        f"caller, or list them in ALLOWED: {sorted(unreferenced - ALLOWED.keys())}"
    )
    assert not ALLOWED.keys() - unreferenced, (
        "stale ALLOWED entries (now referenced, or gone): "
        f"{sorted(ALLOWED.keys() - unreferenced)}"
    )


def test_every_option_is_set_somewhere():
    unset = _unset_options()
    assert not unset - OPTIONS_ALLOWED.keys(), (
        "options no production code sets — make them constants, set them, "
        f"or list them in OPTIONS_ALLOWED: {sorted(unset - OPTIONS_ALLOWED.keys())}"
    )
    assert not OPTIONS_ALLOWED.keys() - unset, (
        "stale OPTIONS_ALLOWED entries (now set, or gone): "
        f"{sorted(OPTIONS_ALLOWED.keys() - unset)}"
    )


def test_allowlist_reasons_name_a_coverage_code():
    coverage = (ROOT / "COVERAGE.md").read_text(encoding="utf-8")
    for allowed, extra in ((ALLOWED, ("oracle", "D9")), (OPTIONS_ALLOWED, ("oracle", "deployment"))):
        for key, reason in allowed.items():
            assert reason in extra or re.search(
                rf"(?<![\w§.-]){re.escape(reason)}(?![\w.-])", coverage
            ), (key, reason)
