"""The driver-facing query suite.

Each submodule registers (query, oracle-SQL) pairs via ``register``;
``__spark_entry__.py`` re-exports the collected dicts. Column names are
aliased identically on both sides (the driver hash sorts columns by
name), floats are rounded to 6 decimals on both sides, and every
ORDER/top-k has a total tie-break so results are deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
# queries flagged quadratic-by-design at registration time (exact
# small-scale baselines that oracle an approximate scale path): the
# sf>=1 breadth sweeps read THIS dict, so a new all-pairs anchor added
# without a flag fails the registry test instead of silently hanging
# the sweep (VERDICT r7 item 4)
QUADRATIC: dict[str, str] = {}


def register(
    name: str,
    fn: QueryFn,
    oracle: str | None = None,
    quadratic_baseline: str | None = None,
) -> None:
    """Register a driver query. ``quadratic_baseline`` marks an exact
    O(n^2)-by-design small-scale oracle anchor: the string is the
    human-readable reason (and the name of its registered scale-path
    twin) printed when sf>=1 sweeps skip it."""
    if name in QUERIES:
        raise ValueError(f"duplicate query name {name!r}")
    QUERIES[name] = fn
    if oracle is not None:
        ORACLE[name] = oracle
    if quadratic_baseline is not None:
        QUADRATIC[name] = quadratic_baseline


# Import order is suite registration order; update as modules land.
from . import knn_suite  # noqa: E402,F401
from . import crud_suite  # noqa: E402,F401
from . import relational_suite  # noqa: E402,F401
from . import relational_suite2  # noqa: E402,F401
from . import relational_suite3  # noqa: E402,F401
from . import relational_suite4  # noqa: E402,F401
from . import relational_suite5  # noqa: E402,F401
from . import text_suite  # noqa: E402,F401
from . import dedup_suite  # noqa: E402,F401
from . import streaming_suite  # noqa: E402,F401
from . import index_suite  # noqa: E402,F401
from . import multimodal_suite  # noqa: E402,F401
from . import udf_suite  # noqa: E402,F401
from . import scalar_suite2  # noqa: E402,F401
from . import curation_suite  # noqa: E402,F401
from . import curation_suite2  # noqa: E402,F401
from . import curation_suite3  # noqa: E402,F401
from . import relational_suite6  # noqa: E402,F401
from . import layout_suite  # noqa: E402,F401
from . import pipeline_suite  # noqa: E402,F401
from . import pipeline_suite2  # noqa: E402,F401
from . import pipeline_suite3  # noqa: E402,F401
from . import pipeline_suite4  # noqa: E402,F401
from . import pipeline_suite5  # noqa: E402,F401
from . import pipeline_suite6  # noqa: E402,F401
from . import pipeline_suite7  # noqa: E402,F401
from . import pipeline_suite8  # noqa: E402,F401
from . import pipeline_suite9  # noqa: E402,F401
from . import pipeline_suite10  # noqa: E402,F401
from . import pipeline_suite11  # noqa: E402,F401
from . import pipeline_suite12  # noqa: E402,F401
from . import pipeline_suite13  # noqa: E402,F401
from . import pipeline_suite14  # noqa: E402,F401
from . import pipeline_suite15  # noqa: E402,F401
