"""CI guard (no Spark): the ML package has one data path.

Every estimator and model in ``spark_rapids_ml_spark/ml/`` reads vector
batches through ``schema.decode``, writes them through
``schema.encode`` and reduces fit partials through
``schema.reduce_partials`` (one ``mapInArrow`` job, a driver-side fold in
partition order). This test fails if a second path comes back: a pandas
batch stage, a posexplode/groupBy reduction, a first-row width probe,
or one of the helpers the shared path replaced.
"""

from __future__ import annotations

import glob
import os

ML = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark_rapids_ml_spark", "ml"
)

BANNED = (
    "mapInPandas",
    "pandas_udf",
    "posexplode",
    "as_matrix",
    "_reduce_flat",
    "_sum_partials",
    "_probe_n_cols",
    ".first()",
)


def test_ml_package_has_one_codec():
    files = sorted(glob.glob(os.path.join(ML, "*.py")))
    assert files
    hits = []
    for path in files:
        with open(path) as f:
            for i, line in enumerate(f, 1):
                hits += [f"{os.path.basename(path)}:{i}: {name}" for name in BANNED if name in line]
    assert not hits, "second ML data path in spark_rapids_ml_spark/ml/:\n" + "\n".join(hits)
