"""The core gate: every registered query with an oracle must hash-match
DuckDB on the fixture tables (driver-loop replica, SURVEY.md §5.2)."""

from __future__ import annotations

import pytest

from khose_spark import registry
from tests._parity import compare, run_query_cache_checked

registry.load_all()

ORACLE_KEYS = sorted(registry.ORACLES)
ROWS_ONLY_KEYS = sorted(set(registry.QUERIES) - set(registry.ORACLES))


# Output schema of every key the two sweeps below built, by key.
_SCHEMAS = {}


def assert_scalar_columns(key, schema):
    """The driver's canonicalizer pandas-sorts every output column and
    dies on ndarray/dict cells (TypeError: unhashable type — the two
    round-2 red rows). EVERY registered query — oracle-checked or
    rows-only — must therefore emit scalar columns only. Arrays belong
    inside the plan, never in the output schema: project to element_at
    scalars or concat_ws strings at the boundary."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    _SCHEMAS[key] = schema
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{key} emits complex-typed output columns the driver canon "
        f"cannot sort: {bad}"
    )


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_parity(key, spark, ddb, sf_dir):
    # run_query_cache_checked doubles as the cache-lifecycle gate: a
    # query that persists without releasing fails HERE, not in a
    # separate (slow) second sweep of all registered queries.
    df = run_query_cache_checked(key, registry.QUERIES[key], spark, sf_dir)
    assert_scalar_columns(key, df.schema)
    spark_pdf = df.toPandas()
    oracle_pdf = ddb.sql(registry.ORACLES[key]).df()
    problems = compare(spark_pdf, oracle_pdf)
    assert not problems, f"{key}: " + "; ".join(problems)


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_runs(key, spark, sf_dir):
    df = run_query_cache_checked(key, registry.QUERIES[key], spark, sf_dir)
    assert_scalar_columns(key, df.schema)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("key", sorted(registry.QUERIES))
def test_no_complex_output_columns(key, spark, sf_dir):
    """Scalar output columns for every key. The two sweeps above split
    registry.QUERIES and check the DataFrame they built; this reads the
    schema they recorded and builds the key again only when neither
    sweep ran it in this session."""
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = registry.QUERIES[key](spark, sf_dir).schema
    assert_scalar_columns(key, schema)


def test_cosine_topk_blocked_without_query_vectors(spark, tmp_path):
    """A corpus with no vec_id < 10 has no query vectors: the blocked
    top-k returns no rows, like its oracle, instead of failing on an
    empty query matrix."""
    import duckdb

    from khose_spark import scaling
    from tests.conftest import SF_DIR

    key = "q_llm_cosine_topk_blocked"
    path = tmp_path / "embeddings.parquet"
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    scaling._scaled_copy(emb, "embeddings", 3).write.parquet(str(path))
    spark_pdf = registry.QUERIES[key](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    oracle_pdf = con.sql(registry.ORACLES[key]).df()
    con.close()
    assert len(spark_pdf) == len(oracle_pdf) == 0
    assert not compare(spark_pdf, oracle_pdf)
