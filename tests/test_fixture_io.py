"""The fixture writer is the one definition of the test and benchmark tables:
perfbench's input lock pins its content and types, and its row groups set the
Spark scan splits every workload runs on."""

import os

import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from shaclapi_spark import fixture_io


def test_fixture_matches_input_lock():
    inputs.check_lock(2000, fixture_io.ensure_fixture_pandas(2000))


def test_row_groups_span_several_groups(tmp_path):
    paths = fixture_io.ensure_fixture_pandas(12000, root=str(tmp_path))
    groups = {}
    for t in ("clips", "transcripts", "images", "videos"):
        md = pq.ParquetFile(paths[t]).metadata
        groups[t] = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
        assert md.row_group(0).column(0).compression == "SNAPPY"
    assert groups == {
        "clips": [5000, 5000, 2013],
        "transcripts": [5000, 5000, 5000, 3000],
        "images": [2500, 500],
        "videos": [1250, 250],
    }


def test_ensure_fixture_idempotent(tmp_path):
    p1 = fixture_io.ensure_fixture_pandas(100, root=str(tmp_path))
    m1 = {k: (v, os.path.getmtime(v)) for k, v in p1.items() if k != "_marker"}
    p2 = fixture_io.ensure_fixture_pandas(100, root=str(tmp_path))
    for k, (v, mt) in m1.items():
        assert p2[k] == v
        assert os.path.getmtime(v) == mt


def test_directory_table_path_fails_clearly(tmp_path):
    # a table path that is a directory and no marker: the part-file layout an
    # older generator left in a fixture cache
    stale = tmp_path / "n100" / "clips.parquet"
    stale.mkdir(parents=True)
    (stale / "part-00000.snappy.parquet").write_bytes(b"")
    with pytest.raises(FileExistsError, match="clips.parquet is a directory"):
        fixture_io.ensure_fixture_pandas(100, root=str(tmp_path))
