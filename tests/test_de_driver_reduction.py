"""Each DE transformer reduces its between-phase statistics on the
driver from one collect. The rows it returns must not depend on how
the input is partitioned, nor on whether edgeR's library sizes are
given or summed."""

import numpy as np
import pandas as pd
import pytest

from mdataframe_spark.functions.deseq2 import DESeq2LRT, DESeq2UnpairedAB
from mdataframe_spark.functions.differential import EdgeR_Unpaired
from mdataframe_spark.functions.noiseq import NOISeq

SAMPLES = ["a1", "a2", "a3", "b1", "b2", "b3"]
C2C = {"A": SAMPLES[:3], "B": SAMPLES[3:]}
FACTORS = {
    c: {"condition": c[0], "batch": "F" if c[1] in "12" else "O"} for c in SAMPLES
}


@pytest.fixture(scope="module")
def nb_counts(spark):
    """400 genes of negative-binomial counts, one in ten with a 3x
    fold change in group B."""
    rng = np.random.default_rng(20)
    n = 400
    mean = rng.gamma(1.5, 80.0, n) + 1.0
    fold = np.where(np.arange(n) % 10 == 0, 3.0, 1.0)
    disp = 0.1
    data = {"__row_id": [f"g{i:03d}" for i in range(n)]}
    for s in SAMPLES:
        mu = mean * (fold if s.startswith("b") else 1.0)
        data[s] = rng.negative_binomial(1.0 / disp, 1.0 / (1.0 + disp * mu)).astype(np.int64)
    return spark.createDataFrame(pd.DataFrame(data))


TRANSFORMERS = {
    "edger": lambda: EdgeR_Unpaired("A", "B", C2C),
    "deseq2_wald": lambda: DESeq2UnpairedAB("A", "B", C2C),
    "deseq2_lrt": lambda: DESeq2LRT(FACTORS, full=["condition", "batch"], reduced=["batch"]),
    "noiseq": lambda: NOISeq("A", "B", C2C),
}


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", sorted(TRANSFORMERS))
def test_output_independent_of_partitioning(nb_counts, name):
    one = TRANSFORMERS[name]()(nb_counts.repartition(1))
    five = TRANSFORMERS[name]()(nb_counts.repartition(5, "__row_id"))
    assert _rows(one) == _rows(five)


def test_edger_library_sizes_match_default(nb_counts):
    """Passing the true column sums as ``library_sizes`` gives the same
    rows, byte for byte, as letting the transformer sum the columns."""
    sums = nb_counts.groupBy().sum(*SAMPLES).first()
    given = EdgeR_Unpaired("A", "B", C2C, library_sizes=[sums[f"sum({s})"] for s in SAMPLES])
    assert _rows(given(nb_counts)) == _rows(EdgeR_Unpaired("A", "B", C2C)(nb_counts))
