"""The local correctness gate (``tools/check_correctness.py``): its
row-permuted copy of the input keeps every table's rows and types."""

import importlib.util
import os

import pyarrow.parquet as pq

_TOOL = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "tools",
    "check_correctness.py",
)


def _tool():
    spec = importlib.util.spec_from_file_location("check_correctness", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class TestPermutedCopy:
    def test_same_rows_and_types_in_another_order(self, sf_dir, tmp_path):
        tool = _tool()
        tool.permuted_copy(sf_dir, str(tmp_path), seed=7)
        moved = 0
        for t in tool.TABLES:
            src = pq.ParquetFile(f"{sf_dir}/{t}.parquet")
            dst = pq.ParquetFile(f"{tmp_path}/{t}.parquet")
            # Parquet physical/logical types and the Arrow schema alike
            assert dst.schema.equals(src.schema), t
            assert dst.schema_arrow.equals(src.schema_arrow), t
            a, b = src.read(), dst.read()
            assert b.num_rows == a.num_rows, t
            keys = [(c, "ascending") for c in a.column_names
                    if not str(a.schema.field(c).type).startswith("list")]
            assert b.sort_by(keys).equals(a.sort_by(keys)), t
            moved += not b.equals(a)
        assert moved >= len(tool.TABLES) - 1  # a 1-row table may not move

    def test_seed_fixes_the_order(self, sf_dir, tmp_path):
        tool = _tool()
        for d in ("a", "b"):
            os.mkdir(tmp_path / d)
            tool.permuted_copy(sf_dir, str(tmp_path / d), seed=3)
        for t in tool.TABLES:
            assert pq.read_table(f"{tmp_path}/a/{t}.parquet").equals(
                pq.read_table(f"{tmp_path}/b/{t}.parquet")
            ), t
