import os
import sys

import pytest
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The tokens table (BASELINE.json input_hint), every field non-null.
TOKENS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])


@pytest.fixture(scope="session")
def spark():
    from zseq.session import get_spark

    s = get_spark("zseq-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def tokens_range(spark, start: int, stop: int, partitions: int):
    """The fixture tokens table of doc ids [start, stop): a slice
    disjoint from ``synth.tokens_df_range``'s, for append tests."""
    from zseq import synth

    return synth._tokens_from_ids(spark.range(start, stop, 1, partitions))
