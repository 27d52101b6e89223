"""S9 config source: YAML round-trip, backward-compat rewrite,
defaults merge, and the CrawlConfig bridge (reference
contxt/config.py:48-95 semantics)."""

from dataclasses import fields

import yaml

from web_scraper_spark.crawl.config import (
    DEFAULT_CONFIG,
    crawl_config_from,
    load_config,
    save_config,
    update_config,
)
from web_scraper_spark.crawl.rounds import CrawlConfig


def test_missing_file_created_with_defaults(tmp_path):
    p = str(tmp_path / "cfg" / "config.yaml")
    cfg = load_config(p)
    assert cfg == DEFAULT_CONFIG
    # the file now exists and round-trips
    assert load_config(p) == DEFAULT_CONFIG


def test_defaults_merge_fills_missing_keys_and_sections(tmp_path):
    p = str(tmp_path / "config.yaml")
    save_config({"scraping": {"max_depth": 5}}, p)
    cfg = load_config(p)
    assert cfg["scraping"]["max_depth"] == 5          # user value kept
    assert cfg["scraping"]["mode"] == "basic"          # missing key filled
    assert cfg["youtube"]["max_videos"] == 30          # missing section filled
    # merged defaults must be copies, not aliases of DEFAULT_CONFIG
    cfg["output"]["saved_directories"].append("x")
    assert DEFAULT_CONFIG["output"]["saved_directories"] == []


def test_backward_compat_print_to_console(tmp_path):
    for legacy, expected in ((True, "print"), (False, "file")):
        p = str(tmp_path / f"legacy_{legacy}.yaml")
        save_config({"output": {"print_to_console": legacy}}, p)
        assert load_config(p)["output"]["destination"] == expected
    # an explicit destination wins over the legacy flag
    p = str(tmp_path / "both.yaml")
    save_config({"output": {"print_to_console": True, "destination": "file"}}, p)
    assert load_config(p)["output"]["destination"] == "file"


def test_empty_yaml_sections_normalized(tmp_path):
    """A YAML file with bare section headers ('output:') parses those
    sections to None — load_config must treat them as empty dicts and
    fill in the defaults instead of raising TypeError."""
    p = str(tmp_path / "config.yaml")
    with open(p, "w") as fh:
        fh.write("output:\nscraping:\n")
    cfg = load_config(p)
    assert cfg["output"]["destination"] == DEFAULT_CONFIG["output"]["destination"]
    assert cfg["scraping"]["mode"] == "basic"


def test_update_config_round_trip(tmp_path):
    p = str(tmp_path / "config.yaml")
    update_config("scraping", "mode", "super", p)
    on_disk = yaml.safe_load(open(p))
    assert on_disk["scraping"]["mode"] == "super"
    assert load_config(p)["scraping"]["mode"] == "super"


def test_crawl_config_bridge(tmp_path):
    p = str(tmp_path / "config.yaml")
    save_config(
        {"scraping": {"max_depth": 3, "ignore_patterns": ["/tags/", "/cat/"]}}, p
    )
    cc = crawl_config_from(load_config(p), ckpt_dir=str(tmp_path / "ck"))
    assert cc.max_depth == 3
    assert cc.ignore_patterns == ["/tags/", "/cat/"]
    assert cc.ckpt_dir.endswith("ck")
    # every field the bridge does not map keeps the engine default
    engine = CrawlConfig(ckpt_dir=cc.ckpt_dir)
    for f in fields(CrawlConfig):
        if f.name not in ("ckpt_dir", "max_depth", "ignore_patterns"):
            assert getattr(cc, f.name) == getattr(engine, f.name), f.name

    # empty keys parse to None and take the file defaults
    with open(p, "w") as fh:
        fh.write("scraping:\n  ignore_patterns:\n  max_depth:\n")
    cc = crawl_config_from(load_config(p), ckpt_dir=str(tmp_path / "ck"))
    assert cc.max_depth == DEFAULT_CONFIG["scraping"]["max_depth"] == 1
    assert cc.ignore_patterns == []
