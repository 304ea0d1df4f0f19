"""Graded query registry.

Every implemented operator from SURVEY.md §2 (plus the LLM-data-pipeline
operators) registers here as a :class:`Query`: a Spark callable and, when
SQL-expressible, the equivalent DuckDB oracle SQL.  ``__spark_entry__.py``
derives its ``queries()`` / ``oracle_sql()`` dicts from this registry, and
``bench.py`` picks its headline set from it.
"""

from __future__ import annotations

from sparkroach.queries.registry import QUERIES, Query, register

# importing these modules populates the registry; import order is
# registration order, which fixes the order of __spark_entry__.queries()
from sparkroach.queries import relational  # noqa: E402,F401
from sparkroach.queries import analytics  # noqa: E402,F401
from sparkroach.queries import analytics2  # noqa: E402,F401
from sparkroach.queries import analytics10  # noqa: E402,F401
from sparkroach.queries import llm_ops  # noqa: E402,F401
from sparkroach.queries import llm_ops2  # noqa: E402,F401
from sparkroach.queries import analytics20  # noqa: E402,F401
from sparkroach.queries import llm_ops4  # noqa: E402,F401
from sparkroach.queries import analytics24  # noqa: E402,F401
from sparkroach.queries import analytics25  # noqa: E402,F401
from sparkroach.queries import analytics26  # noqa: E402,F401
from sparkroach.queries import analytics27  # noqa: E402,F401
from sparkroach.queries import analytics28  # noqa: E402,F401
from sparkroach.queries import llm_ops3  # noqa: E402,F401
from sparkroach.queries import llm_ops5  # noqa: E402,F401
from sparkroach.queries import llm_ops8  # noqa: E402,F401
from sparkroach.queries import llm_ops11  # noqa: E402,F401
from sparkroach.queries import llm_ops12  # noqa: E402,F401
from sparkroach.queries import llm_ops13  # noqa: E402,F401
from sparkroach.queries import llm_ops14  # noqa: E402,F401
from sparkroach.queries import llm_ops15  # noqa: E402,F401
from sparkroach.queries import llm_ops16  # noqa: E402,F401
from sparkroach.queries import llm_ops17  # noqa: E402,F401
from sparkroach.queries import llm_ops18  # noqa: E402,F401
from sparkroach.queries import sketches  # noqa: E402,F401
from sparkroach.queries import chain_demo  # noqa: E402,F401

__all__ = ["QUERIES", "Query", "register"]
