"""Repr-exact output digests of the rows-only DE queries.

``stat_edger_exact_test``, ``stat_deseq2`` and ``stat_noiseq`` have no
DuckDB oracle: the driver checks only their row count, and the R
goldens cover a 4-gene fixture. These pins fix their whole output at
sf0.001 and sf0.01, so a refactor of the DE code that moves any
value shows here. The two HEADLINE queries' sf0.001 pins are asserted
in ``test_driver_contract.py``, which already runs them. A pin is
refreshed only with a CHANGES.md line saying why the output moved.
"""

import hashlib

import pytest

from mdataframe_spark.queries import EXTRA_QUERIES, QUERIES

PINS = {
    ("stat_edger_exact_test", "sf0.001"):
        "cf949ab9f86f130ffacc46ff192614c4a3898275cbd5b1cf45b9c5674008483a",
    ("stat_deseq2", "sf0.001"):
        "d2473b9d1d0f29d476c555822a20d245c81c7dab0f7d0d8cf6d2c7a5605f23db",
    ("stat_noiseq", "sf0.001"):
        "b407cf3f3dcad06ba705d5afceabf4e23f565fcf2ef1ce07e921658e8232b75f",
    ("stat_edger_exact_test", "sf0.01"):
        "d6b4c7eabb395f69519cf2e919e739fbd1ab663db832639c0936389ff51e6efc",
    ("stat_deseq2", "sf0.01"):
        "7575cc3c35789b4cd88282b8586292c1d4a36d0f61cef98bea5a615cd9e17210",
    ("stat_noiseq", "sf0.01"):
        "52b0823742a37fbee2a1f2df4a0be4c11f8e9cec06c0c0e6b1fe3fd98274ec3c",
}


def rows_digest(df) -> str:
    """sha256 over the output rows, each as its repr, sorted."""
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize(
    "name,sf",
    [k for k in PINS if not (k[1] == "sf0.001" and k[0] in QUERIES)],
)
def test_de_query_pinned(spark, name, sf):
    query = {**QUERIES, **EXTRA_QUERIES}[name]
    assert rows_digest(query(spark, f"/root/testdata/{sf}")) == PINS[(name, sf)]
