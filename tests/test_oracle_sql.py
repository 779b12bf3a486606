"""DuckDB oracle SQL checks that need no Spark session.

(a) every registered oracle binds (``EXPLAIN``) over the testdata
    parquet views — a shared builder that emits a wrong column or a
    broken CTE fails here, not at the end of a Spark run;
(b) ``queries._sql_jaccard_pairs`` returns exactly the rows of the
    unbounded self-join it replaced: its size bound may only prune
    pairs the Jaccard filter drops anyway.
"""

from __future__ import annotations

import pytest

duckdb = pytest.importorskip("duckdb")

import __spark_entry__ as entry  # noqa: E402
from polars_text_spark import queries as Q  # noqa: E402
from polars_text_spark.sources.catalog import TABLES  # noqa: E402


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    c.execute("SET threads = 4")
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield c
    c.close()


def test_every_oracle_binds(con):
    oracles = entry.oracle_sql()
    assert oracles
    unbound = {}
    for name, sql in oracles.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except duckdb.Error as e:
            unbound[name] = str(e).splitlines()[0]
    assert not unbound, unbound


def _unbounded_pairs_sql(t: float, block: bool) -> str:
    """The exact-Jaccard self-join as written before the size bound."""
    blk = "a.source = b.source AND a.lang = b.lang AND " if block else ""
    return f"""
    WITH sh AS ({Q._SQL_SH_CTE})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s)) * 1.0
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
             AS jaccard
    FROM sh a JOIN sh b ON {blk}a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 1.0
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= {t}
    """


@pytest.mark.parametrize("t, block", [(0.9, False), (0.01, True)])
def test_jaccard_pairs_match_unbounded_join(con, t, block):
    got = con.execute(
        f"WITH sh AS ({Q._SQL_SH_CTE}) {Q._sql_jaccard_pairs(t, block=block)}"
    ).fetchall()
    want = con.execute(_unbounded_pairs_sql(t, block)).fetchall()
    assert want
    assert sorted(got) == sorted(want)
