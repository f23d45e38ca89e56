"""Config loading: keyword dicts/lists and expiring whitelists.

Reference semantics:
- load_keywords_dict / load_keywords_list merge multiple YAML files and
  lowercase everything (utils.py:223-266; tests/test_utils.py:287-318:
  non-string/list values raise).
- load_whitelist merges domain lists; a list with an `expiry` timestamp
  in the past contributes NOTHING (utils.py:400-446;
  tests/test_utils.py:364-386).

In the streaming pipeline these configs are broadcast per microbatch
(foreachBatch refresh) — the tick-tuple hot-reload analog
(abstracts.py:83-85).
"""

from __future__ import annotations

import datetime as dt
from typing import Any

try:
    import yaml
except ImportError:  # pragma: no cover - pyyaml is present in this env
    yaml = None


def _load_yaml(path: str) -> Any:
    with open(path) as f:
        return yaml.safe_load(f)


def load_keywords_list(sources: dict[str, str | list]) -> list[str]:
    """Merge keyword lists from files or inline lists; lowercase;
    non-list content raises RuntimeError (reference behavior)."""
    out: set[str] = set()
    for _, src in sorted(sources.items()):
        data = _load_yaml(src) if isinstance(src, str) else src
        if not isinstance(data, list):
            raise RuntimeError(f"keyword list source must be a list, got {type(data)}")
        out |= {str(k).lower() for k in data}
    return sorted(out)


def load_keywords_dict(sources: dict[str, str | dict]) -> dict[str, list[str]]:
    """Merge target dicts (name → keyword list); lowercase values."""
    out: dict[str, set[str]] = {}
    for _, src in sorted(sources.items()):
        data = _load_yaml(src) if isinstance(src, str) else src
        if not isinstance(data, dict):
            raise RuntimeError(f"keyword dict source must be a dict, got {type(data)}")
        for name, kws in data.items():
            if not isinstance(kws, list):
                raise RuntimeError(f"target {name!r} value must be a list")
            out.setdefault(str(name), set()).update(str(k).lower() for k in kws)
    return {k: sorted(v) for k, v in out.items()}


class HotReloadConfig:
    """Per-microbatch config refresh — the tick-tuple hot-reload analog
    (reference src/modules/abstracts.py:83-85, src/bolts/phishing.py:
    77-80: keywords and whitelists are re-read from YAML on every tick
    tuple, so a config edit changes scoring for subsequent tuples
    without a restart).

    Holds the SOURCE specs (file paths / inline values); `current()`
    re-evaluates the loaders — re-reading files and re-applying
    whitelist expiry — and is called once per microbatch inside
    foreachBatch (streaming/pipeline.py:start_enriched_query). The
    per-batch cost is a few config-file reads on the driver; the fresh
    dicts reach executors as literals folded into the batch's plan
    (exactly how the reference broadcasts reloaded keywords to bolt
    replicas)."""

    def __init__(
        self,
        target_sources: dict[str, str | dict] | None = None,
        subject_sources: dict[str, str | list] | None = None,
        whitelist_sources: dict[str, dict] | None = None,
    ):
        self.target_sources = target_sources or {}
        self.subject_sources = subject_sources or {}
        self.whitelist_sources = whitelist_sources or {}

    def current(
        self, now: dt.datetime | None = None
    ) -> tuple[dict[str, list[str]], list[str], list[str]]:
        """(target_keys, subject_keys, whitelist) as of right now."""
        targets = (
            load_keywords_dict(self.target_sources) if self.target_sources else {}
        )
        subjects = (
            load_keywords_list(self.subject_sources) if self.subject_sources else []
        )
        whitelist = sorted(
            load_whitelist(self.whitelist_sources, now=now)
            if self.whitelist_sources
            else []
        )
        return targets, subjects, whitelist


def load_whitelist(
    sources: dict[str, dict],
    now: dt.datetime | None = None,
) -> set[str]:
    """Merge whitelist domain sets; skip sources whose `expiry` is in
    the past. `now` is injectable for determinism (the reference reads
    the wall clock — utils.py:435-441)."""
    now = now or dt.datetime.now(dt.timezone.utc)
    out: set[str] = set()
    for _, spec in sorted(sources.items()):
        expiry = spec.get("expiry")
        if expiry is not None:
            exp = dt.datetime.fromisoformat(str(expiry).replace("Z", "+00:00"))
            if exp.tzinfo is None:
                exp = exp.replace(tzinfo=dt.timezone.utc)
            if exp <= now:
                continue
        src = spec["path"] if "path" in spec else spec["values"]
        data = _load_yaml(src) if isinstance(src, str) else src
        if not isinstance(data, list):
            raise RuntimeError("whitelist source must be a list")
        out |= {str(d).lower() for d in data}
    return out
