"""Session helpers: input sizing on the driver."""

import os

from conftest import count_py4j_commands
from qs_spark.session import input_bytes


def test_input_bytes_py4j_cost_does_not_grow_with_files(spark, tmp_path):
    """input_bytes sums the local input files' sizes in a fixed number of
    py4j commands: the paths cross as one joined string, where iterating
    inputFiles()' Java array costs ~2 commands per file."""
    sent = {}
    for n in (2, 16):
        path = tmp_path / f"t{n}.parquet"
        spark.range(n * 10, numPartitions=n).write.parquet(str(path))
        df = spark.read.parquet(str(path))
        files = list(path.glob("*.parquet"))
        assert len(files) == n
        input_bytes(df)  # warm py4j's class lookups
        total, sent[n] = count_py4j_commands(lambda: input_bytes(df))
        assert total == sum(os.path.getsize(f) for f in files)
    assert sent[16] == sent[2], sent
    assert input_bytes(spark.range(3)) == 0  # no input files
