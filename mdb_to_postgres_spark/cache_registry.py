"""The substrate store: one place that caches per-session intermediates.

A substrate is an intermediate several queries share — the shingle index,
the pair stats, the IVF assignment, the table catalog. Its builder is a
function of ``(spark, sf_dir)`` decorated with ``@substrate("label")``:

    @substrate("dedup.shingles")
    def doc_shingles(spark, sf_dir):
        return _shingles(T(spark, sf_dir, "documents"), 3).localCheckpoint()

Calling the decorated function returns the entry for
``(applicationId, sf_dir)``, building it on first use. The signature admits
no query parameter: a variant of a builder is a second builder with its own
label. The store owns the whole policy:

- On each access it drops every entry whose applicationId is not the live
  session's. Such entries reference a stopped session's localCheckpoint
  blocks, so keeping them leaks driver memory in long-lived multi-session
  processes (pytest, the verification driver).
- A builder that raises stores nothing; the next access builds again.
- Entries of the live session for other sf_dirs are kept (multi-sf use
  within one session is supported and tested).

``SESSION_CACHES`` lists ``(label, dict)`` for every builder, filled as the
decorated modules import (``registry.load_all()`` imports them all). The
list object is only ever appended to, so a reference taken early sees later
registrations.

Outside the store: ``functions.global_order._BUILD_CACHE`` is keyed by a
plan's semanticHash rather than by sf_dir and is LRU-bounded; it evicts
foreign applicationIds itself and has its own tests.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Any, TypeVar

T = TypeVar("T")

SESSION_CACHES: list[tuple[str, dict]] = []


def substrate(label: str) -> Callable[[Callable[[Any, str], T]], Callable[[Any, str], T]]:
    """Register ``build(spark, sf_dir)`` under ``label`` and return its
    cached accessor."""

    def deco(build: Callable[[Any, str], T]) -> Callable[[Any, str], T]:
        if any(label == known for known, _ in SESSION_CACHES):
            raise ValueError(f"duplicate substrate label: {label}")
        cache: dict = {}

        @functools.wraps(build)
        def get(spark, sf_dir: str) -> T:
            app = spark.sparkContext.applicationId
            for _, entries in SESSION_CACHES:
                for k in [k for k in entries if k[0] != app]:
                    del entries[k]
            key = (app, sf_dir)
            if key not in cache:
                cache[key] = build(spark, sf_dir)
            return cache[key]

        SESSION_CACHES.append((label, cache))
        return get

    return deco
