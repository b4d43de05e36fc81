"""Query registry.

Every operator from SURVEY.md §2 registers itself here as a named query:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when the semantics
are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL.  The driver's
correctness gate runs both sides at sf0.01 and compares row-count, schema
and an order-insensitive value hash — so the decorator keeps the two
definitions adjacent in the source, which is the only reliable way to keep
them in sync.

Conventions that make the hash comparison deterministic (see SURVEY §5):

- alias every computed column identically on both sides;
- monetary aggregations go through DECIMAL (exact, order-independent) and
  are cast back to DOUBLE at the end → bit-identical across engines, no
  dependence on floating-point summation order;
- timestamps in output are formatted to strings (session TZ pinned UTC);
- anything ranked breaks ties on a unique key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from reindexer_spark.session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does a rows-only check
    doc: str


_REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as the named query; ``oracle`` is the DuckDB-equivalent
    ANSI SQL (omit only for genuinely non-SQL-expressible operators)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from reindexer_spark.cache import release_all
            from reindexer_spark.streaming.runner import forget_source_bytes

            tune(spark)  # UTC/AQE/Arrow regardless of who built the session
            release_all()  # previous query's internal persists end here
            forget_source_bytes(spark)  # ... and its unrun stream sources
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        _REGISTRY[name] = Query(name, wrapped, oracle, fn.__doc__ or "")
        return fn

    return deco


def _ensure_loaded() -> None:
    # Importing the operators package populates the registry.
    import reindexer_spark.operators  # noqa: F401


def _driver_checked(root=None) -> set[str]:
    """Names that already have a green driver row in any prior round's
    ``CORRECTNESS_r*.json`` (written by the external gate beside the repo
    root).  Green = value-hash match, or a completed rows-only check for
    queries that deliberately carry no oracle.  Red/errored rows do NOT
    count — those queries stay in the priority group for re-verification.
    Unreadable or absent files degrade to "nothing checked yet".
    """
    import json
    from pathlib import Path

    checked: set[str] = set()
    root = Path(root) if root else Path(__file__).resolve().parents[1]
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True:
                checked.add(name)
            elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                # rows-only row counts only while the query still has no
                # oracle — a query later UPGRADED to value-checked needs
                # a fresh driver row under the stronger check
                q = _REGISTRY.get(name)
                if q is None or q.oracle is None:
                    checked.add(name)
    return checked


def _interleave(names: list[str]) -> list[str]:
    families: dict[str, list[str]] = {}
    for n in sorted(names):
        families.setdefault(n.split("_", 1)[0], []).append(n)
    queues = [families[f] for f in sorted(families)]
    out: list[str] = []
    while queues:
        queues = [q for q in queues if q]
        for q in queues:
            if q:
                out.append(q.pop(0))
    return out


def gate_order(names: list[str], root=None) -> list[str]:
    """Deterministic family-interleaved ordering for the correctness gate,
    rotated by prior coverage.

    The external gate runs queries in the order this dict yields them and
    stops when its time budget runs out (~50 queries/round; round 1 ran
    alphabetical a-f, so window/scalar/text/knn families got no row at
    all).  Two fixes compose here:

    1. **Round-robin across operator families** (the ``<family>_`` name
       prefix): any budget prefix checks one query from every family
       before any family gets its second.
    2. **Rotation by prior results** (round 3): queries WITHOUT a green
       row in any existing ``CORRECTNESS_r*.json`` sort first, so each
       round's budget lands on the still-unverified tail instead of
       re-proving the same prefix forever.  Already-green queries keep
       the same interleave among themselves at the back — they still run
       if the budget allows, newest-round files naturally roll coverage
       forward.
    """
    checked = _driver_checked(root)
    fresh = [n for n in names if n not in checked]
    done = [n for n in names if n in checked]
    return _interleave(fresh) + _interleave(done)


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: _REGISTRY[name].fn for name in gate_order(list(_REGISTRY))}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: _REGISTRY[name].oracle
        for name in gate_order(list(_REGISTRY))
        if _REGISTRY[name].oracle is not None
    }


def get_query(name: str) -> Query:
    _ensure_loaded()
    return _REGISTRY[name]
