"""Aggregated query registry — importing the modules populates the dicts.

Two surfaces:

- ``SPARK_QUERIES`` / ``ORACLE_SQL``: every fine-grained query (the full
  operator inventory; what tests and ``check_queries.py --full`` use).
- ``driver_queries()``: the consolidated driver-contract view — panels
  (see ``queries.panels``) plus the unpaneled queries, sized to fit the
  round driver's bounded correctness run list so every operator family
  gets a scoreboard row each round.
"""

from __future__ import annotations

import sparkextract.queries.ann  # noqa: F401
import sparkextract.queries.dedup  # noqa: F401
import sparkextract.queries.extraction  # noqa: F401
import sparkextract.queries.graph  # noqa: F401
import sparkextract.queries.incremental  # noqa: F401
import sparkextract.queries.media  # noqa: F401
import sparkextract.queries.planning  # noqa: F401
import sparkextract.queries.quality  # noqa: F401
import sparkextract.queries.relational  # noqa: F401
import sparkextract.queries.retrieval  # noqa: F401
import sparkextract.queries.sketches  # noqa: F401
import sparkextract.queries.stats  # noqa: F401
import sparkextract.queries.text  # noqa: F401
from sparkextract.queries.base import ORACLE_SQL, SPARK_QUERIES


def driver_queries() -> tuple[dict, dict]:
    from sparkextract.queries.panels import driver_view

    return driver_view()


__all__ = ["SPARK_QUERIES", "ORACLE_SQL", "driver_queries"]
