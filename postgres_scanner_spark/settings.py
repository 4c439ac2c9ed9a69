"""Engine settings registry.

Parity with the reference extension options
(reference: src/postgres_extension.cpp:162-183) — same names and
defaults, re-expressed as a plain registry that the scan planner and
catalog consult. On a real cluster these would be set per-session;
they are process-global here, like DuckDB's config.
"""

from __future__ import annotations

import weakref

from dataclasses import dataclass, field
from typing import Any

DEFAULT_PAGES_PER_TASK = 1000  # reference: postgres_scanner.hpp DEFAULT_PAGES_PER_TASK

# Catalogs register their clear_cache here; flipping a schema-shaping
# setting invalidates every cached table schema, mirroring the
# reference's ClearCacheOnSetting callback on pg_array_as_varchar
# (reference: postgres_extension.cpp:171-173) — without it a table
# probed before SET keeps its old array typing forever.
_CACHE_CLEARERS: list = []      # weakref.WeakMethod entries


def register_cache_clearer(method) -> None:
    _CACHE_CLEARERS.append(weakref.WeakMethod(method))


def _clear_registered_caches() -> None:
    alive = []
    for ref in _CACHE_CLEARERS:
        fn = ref()
        if fn is not None:
            alive.append(ref)
            fn()
    _CACHE_CLEARERS[:] = alive


@dataclass
class Settings:
    """pg_* settings (reference: postgres_extension.cpp:162)."""

    pg_use_binary_copy: bool = True
    pg_use_ctid_scan: bool = True
    pg_pages_per_task: int = DEFAULT_PAGES_PER_TASK
    pg_connection_limit: int = 64
    pg_connection_cache: bool = True
    pg_array_as_varchar: bool = False
    pg_experimental_filter_pushdown: bool = True
    pg_null_byte_replacement: str | None = None
    pg_debug_show_queries: bool = False
    _extra: dict[str, Any] = field(default_factory=dict)

    def set(self, name: str, value: Any) -> None:
        if name == "pg_null_byte_replacement" and value is not None \
                and "\x00" in str(value):
            # reference: attach_null_byte.test (SET ...=chr(0) errors)
            raise ValueError(
                "NULL byte replacement string cannot contain NULL values")
        if hasattr(self, name) and not name.startswith("_"):
            cur = getattr(self, name)
            if isinstance(cur, bool):
                value = value in (True, "true", "True", 1, "1", "on")
            elif isinstance(cur, int) and cur is not None:
                value = int(value)
            setattr(self, name, value)
            if name == "pg_pages_per_task" and self.pg_pages_per_task == 0:
                # reference: postgres_scanner.cpp:107 — 0 resets to default
                self.pg_pages_per_task = DEFAULT_PAGES_PER_TASK
            if name == "pg_array_as_varchar" and value != cur:
                _clear_registered_caches()
        else:
            self._extra[name] = value

    def get(self, name: str, default: Any = None) -> Any:
        if hasattr(self, name) and not name.startswith("_"):
            return getattr(self, name)
        return self._extra.get(name, default)

    def reset(self) -> None:
        fresh = Settings()
        flipped = self.pg_array_as_varchar != fresh.pg_array_as_varchar
        for k in vars(fresh):
            if not k.startswith("_"):
                setattr(self, k, getattr(fresh, k))
        self._extra.clear()
        if flipped:
            # RESET changes the setting like SET does — same
            # ClearCacheOnSetting semantics (a stale schema surviving
            # reset is the exact bug the clearer exists to prevent)
            _clear_registered_caches()


SETTINGS = Settings()
