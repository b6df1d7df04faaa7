"""Driver-contract query registry.

Each entry pairs a Spark DataFrame implementation with an equivalent
ANSI-SQL oracle that DuckDB runs on the same parquet tables
(CORRECTNESS gate, see __spark_entry__.py at the repo root). Column
names and types are aligned on both sides; float aggregates go through
an exact decimal sum so the value-hash is independent of
partial-aggregation order (see queries.common).
"""

from __future__ import annotations

import functools
import json
import re
from pathlib import Path

from market_pulse_data_pipeline_spark.queries.common import QUERY_REGISTRY, QueryDef  # noqa: F401

# importing the modules registers their queries
from market_pulse_data_pipeline_spark.queries import reference  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import tpch  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import text  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import dedup  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import similarity  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import events  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import scale_paths  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import analytics  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import asof  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import streaming_evidence  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import corpus  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import quality  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import formats  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import ml  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import sqltext  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import incremental  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import relevance  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import layout  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import sketches  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import shuffle_ops  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import mining  # noqa: F401, E402
from market_pulse_data_pipeline_spark.queries import evaluation  # noqa: F401, E402

# the committed correctness-harness results, CORRECTNESS_r{N}.json:
# one row per checked query, green when the value hash matched
# without an error
_REPO_ROOT = Path(__file__).resolve().parents[2]


@functools.cache
def _witnesses(root: Path) -> tuple[dict[str, bool], dict[str, tuple[int, int]]]:
    """Read every CORRECTNESS_r{N}.json under ``root`` once, oldest
    round first. Returns (is the latest row green, per name) and
    (latest green round, position of the first green row, per name)."""
    latest_ok: dict[str, bool] = {}
    green: dict[str, tuple[int, int]] = {}
    first_green: dict[str, int] = {}
    files = {
        int(m.group(1)): p
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    }
    for rnd in sorted(files):
        for name, row in json.loads(files[rnd].read_text()).items():
            ok = row.get("hash_match") is True and row.get("err") is None
            latest_ok[name] = ok
            if ok:
                first_green.setdefault(name, len(first_green))
                green[name] = (rnd, first_green[name])
    return latest_ok, green


def witness_order(names: list[str], root: Path = _REPO_ROOT) -> list[str]:
    """``names`` in the order they should be re-checked: first the
    names with no green row or a red latest row, in the given order;
    then the green ones, stalest first (latest green round, then the
    position of the name's first green row)."""
    latest_ok, green = _witnesses(root)
    unproven = [n for n in names if not latest_ok.get(n)]
    return unproven + sorted(
        (n for n in names if latest_ok.get(n)), key=green.__getitem__
    )


def all_queries() -> dict[str, QueryDef]:
    """The registry in ``witness_order``: the correctness harness of
    ``__spark_entry__.queries()`` checks the first 50 entries, so they
    are the queries whose evidence is missing or oldest."""
    return {n: QUERY_REGISTRY[n] for n in witness_order(list(QUERY_REGISTRY))}

