import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from bertrand_spark.session import build_session

    # 4 cores, 8 shuffle partitions and 4g keep the suite's task counts
    # and footprint small; no test reads the UI
    s = build_session(
        4,
        "bertrand-spark-tests",
        **{
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
        },
    )
    yield s
    # every test stops the streaming queries it starts
    assert not s.streams.active, [q.name for q in s.streams.active]
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def mutate_blob(blob: bytearray, rng) -> bytearray:
    """One random corruption of a codec payload (byte flips, truncate,
    junk insertion, span deletion) — THE mutation kernel shared by
    every codec-fuzz test (simplify-pass dedup of four copies)."""
    kind = rng.integers(0, 4)
    mutated = bytearray(blob)
    if kind == 0:  # flip random bytes
        for _ in range(int(rng.integers(1, 8))):
            mutated[int(rng.integers(0, len(mutated)))] = int(
                rng.integers(0, 256)
            )
    elif kind == 1:  # truncate anywhere
        mutated = mutated[: int(rng.integers(0, len(mutated)))]
    elif kind == 2:  # insert junk
        at = int(rng.integers(0, len(mutated)))
        mutated = (
            mutated[:at]
            + bytearray(rng.integers(0, 256, size=9, dtype="uint8"))
            + mutated[at:]
        )
    else:  # delete a span
        at = int(rng.integers(0, max(1, len(mutated) - 10)))
        del mutated[at : at + int(rng.integers(1, 10))]
    return mutated
