"""Local replica of the driver's DuckDB-oracle comparison (SURVEY.md §5.2).

Mirrors the driver loop: run the Spark query and the oracle SQL over the
same fixture dir, then compare row-count + column names + an
order-insensitive canonical form of every value. Stricter than needed is
fine; looser is not — never hand the driver a query that fails here.
"""

from __future__ import annotations

import math
from datetime import date, datetime

import numpy as np
import pandas as pd


def canon_value(v) -> str:
    """Canonical string for one cell, robust to engine dtype differences."""
    if v is None:
        return "<NULL>"
    if isinstance(v, float) or isinstance(v, np.floating):
        f = float(v)
        if math.isnan(f):
            return "<NULL>"
        if f == 0.0:
            f = 0.0  # normalize -0.0
        # 12 significant digits: queries round() everything they compute,
        # so any residual difference beyond this is a real bug.
        return f"f:{f:.12g}"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, pd.Timestamp):
        return "t:" + v.isoformat()
    if isinstance(v, datetime):
        return "t:" + pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return "d:" + v.isoformat()
    if isinstance(v, (list, np.ndarray, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    if isinstance(v, str):
        return "s:" + v
    if pd.isna(v):  # pandas NaT / NA
        return "<NULL>"
    return f"o:{v!r}"


def canon_frame(df: pd.DataFrame) -> list[tuple[str, ...]]:
    """Order-insensitive canonical form: sorted rows of canonical cells,
    columns sorted by name."""
    cols = sorted(df.columns)
    # Column-wise canonicalization: iterrows() would upcast each row to a
    # common dtype (e.g. an int64 count next to a float column becomes
    # float), faking type mismatches that aren't in the data.
    canon_cols = [[canon_value(v) for v in df[c].tolist()] for c in cols]
    rows = [tuple(vals) for vals in zip(*canon_cols)] if cols else []
    rows.sort()
    return rows


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == parity)."""
    problems: list[str] = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"columns: spark={sc} oracle={oc}")
        return problems
    a, b = canon_frame(spark_pdf), canon_frame(oracle_pdf)
    if a != b:
        diffs = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
        for i in diffs[:5]:
            problems.append(f"row {i}: spark={a[i]} oracle={b[i]}")
        if len(a) != len(b) or (diffs and len(diffs) > 5):
            problems.append(f"... {len(diffs)} differing rows of {len(a)}")
        if not diffs and len(a) != len(b):
            problems.append("row multiset prefix equal but lengths differ")
        if not problems:
            problems.append("canonical forms differ")
    return problems


# ---------------------------------------------------------------------------
# Cache-lifecycle gate (VERDICT r05 next-round #1): every query function
# must release what it persists before returning — persist registers in
# the SQL CacheManager at call time and unpersist deregisters at call
# time, so by the time a query function RETURNS, the cache must be back
# where it started. The one sanctioned exception is the session-wide
# memoized trade-edge relation (graph.py _trade_edges), which the FIRST
# graph query to need it creates and the rest share; memo.checkpoint is
# exempt by design (RDD-level, reclaimed by the ContextCleaner when the
# driver-side DataFrame is garbage collected — not a pinned SQL cache).

# Keys allowed to grow the SQL cache by exactly one entry (the memoized
# _trade_edges relation): its direct consumers plus every consumer of
# _knn_backbone (which builds on it). Whichever runs first creates it.
MEMO_CREATORS = {
    "q_graph_pagerank",
    "q_graph_cooccurrence",
    "q_graph_supplier_similarity",
    "q_graph_adamic_adar",
    "q_graph_hits",
    "q_graph_labelprop",
    "q_graph_kcore",
    "q_graph_clustering",
    "q_graph_assortativity",
    "q_graph_bfs",
    "q_graph_ppr",
    "q_graph_degree_dist",
    "q_graph_two_hop",
    "q_graph_modularity",
    "q_graph_louvain_round",
    "q_graph_conductance",
}

# Total sanctioned session-wide SQL-cache entries: the memo above is
# keyed per (application, sf_dir), and a verify_sweep session legally
# sweeps two fixture dirs (sf0.01 + the sf0.1 defensive pass).
MAX_SESSION_CACHE_ENTRIES = 2


def sql_cache_entries(spark) -> int:
    """Number of live entries in the session's SQL CacheManager."""
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def run_query_cache_checked(key, fn, spark, sf_dir):
    """Call a registered query function and assert it leaves the SQL
    cache exactly as found (memoized-creator allowance aside)."""
    before = sql_cache_entries(spark)
    df = fn(spark, sf_dir)
    after = sql_cache_entries(spark)
    growth = after - before
    allowed = 1 if key in MEMO_CREATORS else 0
    assert growth <= allowed, (
        f"{key} leaked {growth} SQL-cache entr{'y' if growth == 1 else 'ies'}"
        " (persist without unpersist before return; use the memo.checkpoint-"
        "then-unpersist lifecycle, tests/_parity.py gate)"
    )
    assert after <= MAX_SESSION_CACHE_ENTRIES, (
        f"after {key}: {after} session-wide SQL-cache entries exceed the "
        f"sanctioned {MAX_SESSION_CACHE_ENTRIES} (one persisted _trade_edges "
        "memo per fixture dir, see khose_spark/memo.py)"
    )
    return df
