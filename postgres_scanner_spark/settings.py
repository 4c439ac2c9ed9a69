"""Engine settings registry.

Parity with the reference extension options
(reference: src/postgres_extension.cpp:162-183) — same names and
defaults. `SETTINGS` is the driver's process-global registry, like
DuckDB's config. The `postgres_scan` DataSource runs in Python workers
that never see it: a scan takes its settings from options of the same
names (`Settings.from_options`), which `Catalog.table` and `pg_query`
fill from `SETTINGS.scan_options()`.
"""

from __future__ import annotations

import weakref

from dataclasses import dataclass, fields
from typing import Any

DEFAULT_PAGES_PER_TASK = 1000  # reference: postgres_scanner.hpp DEFAULT_PAGES_PER_TASK

# Settings only the driver reads (copyio's default COPY format): a
# scan always reads and writes COPY binary, so none is a scan option.
_DRIVER_ONLY = frozenset({"pg_use_binary_copy"})

# Catalogs register their clear_cache here: a cached Catalog.table
# DataFrame carries the settings in its options, so any changed setting
# invalidates it (reference: postgres_extension.cpp:171-173
# ClearCacheOnSetting).
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
    pg_array_as_varchar: bool = False
    pg_experimental_filter_pushdown: bool = True
    pg_null_byte_replacement: str | None = None
    pg_debug_show_queries: bool = False

    def _assign(self, name: str, value: Any) -> bool:
        """Coerce, validate and store one setting; True if it changed."""
        if name not in {f.name for f in fields(self)}:
            # DuckDB: unrecognized configuration parameter "..."
            raise ValueError(
                f"unrecognized configuration parameter {name!r}")
        if name == "pg_null_byte_replacement" and value is not None \
                and "\x00" in str(value):
            # reference: attach_null_byte.test (SET ...=chr(0) errors)
            raise ValueError(
                "NULL byte replacement string cannot contain NULL values")
        cur = getattr(self, name)
        if isinstance(cur, bool):
            value = value in (True, "true", "True", 1, "1", "on")
        elif isinstance(cur, int):
            value = int(value)
            if name == "pg_pages_per_task" and value == 0:
                # reference: postgres_scanner.cpp:107 — 0 resets to default
                value = DEFAULT_PAGES_PER_TASK
        setattr(self, name, value)
        return value != cur

    def set(self, name: str, value: Any) -> None:
        if self._assign(name, value):
            _clear_registered_caches()

    def reset(self) -> None:
        fresh = Settings()
        changed = self != fresh
        for f in fields(self):
            setattr(self, f.name, getattr(fresh, f.name))
        if changed:             # RESET clears caches like SET does
            _clear_registered_caches()

    @classmethod
    def from_options(cls, options) -> Settings:
        """A scan's settings: every `pg_*` DataSource option must name
        a scan setting and overrides its default; no cache is
        cleared."""
        s = cls()
        for name, value in options.items():
            if name in _DRIVER_ONLY:
                raise ValueError(
                    f"{name} is not a postgres_scan option: a scan "
                    "always reads and writes COPY binary; the setting "
                    "only picks copy_to/copy_from's default format")
            if name.startswith("pg_"):
                s._assign(name, value)
        return s

    def scan_options(self) -> dict[str, str]:
        """The non-default scan settings, as DataSource options."""
        fresh = Settings()
        return {f.name: str(v).lower() if isinstance(v, bool) else str(v)
                for f in fields(self) if f.name not in _DRIVER_ONLY
                and (v := getattr(self, f.name)) != getattr(fresh, f.name)}


SETTINGS = Settings()
