"""S9 — config source: YAML load / defaults merge / backward-compat.

Re-expresses the reference's config lifecycle
(/root/reference/contxt/config.py:48-95) for the Spark engine:

- ``load_config(path)`` creates the file with defaults when missing,
  applies the backward-compat rewrite (the legacy
  ``output.print_to_console`` boolean becomes
  ``output.destination`` print/file), and deep-merges missing
  defaults section-by-section, key-by-key — exactly the reference's
  recovery semantics so an existing user's config file keeps working.
- ``save_config`` / ``update_config`` round-trip YAML.
- ``crawl_config_from`` bridges the user-facing config dict into the
  engine's :class:`~web_scraper_spark.crawl.rounds.CrawlConfig`
  (scraping.max_depth / ignore_patterns drive the frontier filters).
  ``scraping.mode`` stays in the file for compatibility with the
  reference's config files; the engine does not read it, since the
  fetch-mode wait budgets (S3) are not modelled.

The defaults keep the reference's sections and keys verbatim — they
are the public configuration surface a migrating user already has on
disk.
"""

from __future__ import annotations

import copy
import os
from typing import Any

import yaml

DEFAULT_CONFIG: dict[str, dict[str, Any]] = {
    "output": {
        "format": "markdown",   # markdown, xml, raw
        "destination": "print", # print, file (clipboard is interactive-only)
        "directory": None,
        "saved_directories": [],
    },
    "scraping": {
        "mode": "basic",        # basic, advanced, super (kept, not read)
        "include_images": False,
        "max_depth": 1,
        "ignore_patterns": [],
        "extract_og_metadata": True,
    },
    "organization": {
        "by_source": True,
        "by_topic": False,
        "single_file": True,
    },
    "performance": {
        "show_processing_time": True,
        "show_token_count": True,
    },
    "youtube": {
        "include_comments": False,
        "max_videos": 30,
        "include_description": True,
        "format_style": "complete",
    },
}


def load_config(path: str) -> dict:
    """Load the YAML config at ``path``; create it with defaults when
    missing. Applies the backward-compat rewrite and fills in any
    missing section/key from the defaults (reference
    contxt/config.py:48-72)."""
    if not os.path.exists(path):
        save_config(DEFAULT_CONFIG, path)
        return copy.deepcopy(DEFAULT_CONFIG)

    with open(path) as fh:
        config = yaml.safe_load(fh) or {}
    # an empty YAML section ('output:') parses to None — normalize to {}
    # so the legacy rewrite and defaults merge below can index into it
    for section in list(config):
        if config[section] is None:
            config[section] = {}

    # backward compat: old configs carried output.print_to_console
    # (bool); rewrite it into the destination enum unless the new key
    # is already present.
    legacy = config.get("output", {}).get("print_to_console")
    if legacy is not None and "destination" not in config["output"]:
        config["output"]["destination"] = "print" if legacy else "file"

    # defaults merge: every missing section and key comes back
    for section, values in DEFAULT_CONFIG.items():
        if section not in config:
            config[section] = {}
        for key, value in values.items():
            if key not in config[section]:
                config[section][key] = copy.deepcopy(value)
    return config


def save_config(config: dict, path: str) -> None:
    """Write ``config`` as YAML, creating parent dirs."""
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    with open(path, "w") as fh:
        yaml.dump(config, fh, default_flow_style=False)


def update_config(section: str, key: str, value: Any, path: str) -> dict:
    """Load-modify-save one key (reference contxt/config.py:88-95);
    returns the updated config."""
    config = load_config(path)
    config.setdefault(section, {})[key] = value
    save_config(config, path)
    return config


def crawl_config_from(config: dict, ckpt_dir: str) -> "CrawlConfig":
    """Bridge the user-facing config dict into the engine's
    CrawlConfig: scraping.max_depth and scraping.ignore_patterns feed
    the frontier filter chain (P5), everything else keeps engine
    defaults. A missing or empty (null) key takes the file default
    (depth 1, no patterns)."""
    from .rounds import CrawlConfig

    scraping = config.get("scraping") or {}
    max_depth = scraping.get("max_depth")
    return CrawlConfig(
        ckpt_dir=ckpt_dir,
        max_depth=1 if max_depth is None else int(max_depth),
        ignore_patterns=list(scraping.get("ignore_patterns") or []),
    )
