"""Multi-file (directory-per-table) fixture support — the r10 rung.

The driver's testdata keeps one parquet file per table, but every real
cluster layout is a DIRECTORY of part files. Round 10 added
`scripts/gen_multifile_fixture.py` (a full-registry sim tier at that
layout) after finding single-file assumptions in the streaming replay
machinery (`os.path.getsize`, `shutil.copy`, `pq.ParquetFile`). These
tests pin the helpers and one end-to-end streaming key so the support
cannot silently regress back to single-file-only.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from data_ingestion_service_spark.catalog import (
    TABLES,
    fixture_cache_key,
    fixture_parts,
    load_table,
    table_path,
)
from data_ingestion_service_spark.streaming import stream_queries as sq

from __spark_entry__ import queries

QUERIES = queries()


@pytest.fixture(scope="module")
def multi_sf_dir(sf_dir, tmp_path_factory):
    """A fixture dir where events+documents are 3-part DIRECTORIES
    (interleaved rows, like the rung generator) and the other tables
    are symlinks to the single-file originals."""
    out = tmp_path_factory.mktemp("multifix")
    for t in TABLES:
        src = table_path(sf_dir, t)
        if t in ("events", "documents"):
            table = pq.read_table(src)
            tdir = out / f"{t}.parquet"
            tdir.mkdir()
            idx = list(range(table.num_rows))
            for k in range(3):
                pq.write_table(
                    table.take(idx[k::3]), str(tdir / f"part-{k:05d}.parquet")
                )
        else:
            os.symlink(src, out / f"{t}.parquet")
    return str(out)


def test_fixture_parts_file_and_dir(sf_dir, multi_sf_dir):
    single = fixture_parts(table_path(sf_dir, "events"))
    assert single == [table_path(sf_dir, "events")]
    parts = fixture_parts(table_path(multi_sf_dir, "events"))
    assert len(parts) == 3 and parts == sorted(parts)
    assert all(p.endswith(".parquet") for p in parts)


def test_fixture_parts_rejects_nested_layout(tmp_path):
    """A directory whose parts live in SUBDIRECTORIES (hive-partitioned
    layout) must fail loudly, not stage an empty replay dir."""
    tdir = tmp_path / "events.parquet"
    (tdir / "dt=2024-01-01").mkdir(parents=True)
    with pytest.raises(ValueError, match="no top-level"):
        fixture_parts(str(tdir))


def test_cache_key_tracks_directory_parts(multi_sf_dir, tmp_path):
    """fixture_cache_key must change when a part file is rewritten in
    place, even though the directory inode's stat may not (the stale-
    vintage hazard for directory tables — ADVICE r10 medium)."""
    import shutil

    src = table_path(multi_sf_dir, "events")
    work = tmp_path / "events.parquet"
    shutil.copytree(src, work, symlinks=False)
    k1 = fixture_cache_key(str(work))
    part = sorted(work.iterdir())[1]
    t = pq.read_table(part)
    pq.write_table(t.slice(0, max(1, t.num_rows - 1)), str(part))
    k2 = fixture_cache_key(str(work))
    assert k1 != k2
    # and it covers every part: keys are stable across repeated calls
    assert k2 == fixture_cache_key(str(work))


def test_load_table_sees_part_rewritten_in_place(spark, tmp_path):
    """A part rewritten in place leaves the directory's own mtime and
    size unchanged; load_table must still plan over the new bytes. A
    plan cached by the directory's stat keeps the old file listing and
    silently loses the rewritten part's new rows."""
    import pyarrow as pa

    tdir = tmp_path / "region.parquet"
    tdir.mkdir()
    for k in range(2):
        pq.write_table(
            pa.table({"k": list(range(5))}), str(tdir / f"part-{k:05d}.parquet")
        )
    assert load_table(spark, str(tmp_path), "region").count() == 10
    st = os.stat(tdir)
    pq.write_table(
        pa.table({"k": list(range(2000))}), str(tdir / "part-00001.parquet")
    )
    os.utime(tdir, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(tdir).st_mtime_ns == st.st_mtime_ns
    assert load_table(spark, str(tmp_path), "region").count() == 2005


def test_note_stream_input_sums_directory(multi_sf_dir):
    path = table_path(multi_sf_dir, "events")
    sq._note_stream_input(path)
    total = sum(os.path.getsize(p) for p in fixture_parts(path))
    assert sq._STREAM_INPUT.nbytes == total
    assert total > 1000  # real bytes, not the dir inode size


def test_copy_fixture_directory(multi_sf_dir, tmp_path):
    sq._copy_fixture(table_path(multi_sf_dir, "events"), str(tmp_path), "ev")
    names = sorted(os.listdir(tmp_path))
    assert names == ["ev_0.parquet", "ev_1.parquet", "ev_2.parquet"]


def test_single_file_merges_directory(spark, sf_dir, multi_sf_dir):
    """single_file() returns the fixture itself when it is one file and
    a once-per-vintage merged staging file when it is a directory — the
    delivery-unit control q_stream_outer_join's maxFilesPerTrigger=1
    replay needs (multi-part delivery would drop late rows)."""
    single_stage = sq.replay_stage(spark, sf_dir)
    assert single_stage.single_file() == table_path(sf_dir, "events")
    multi_stage = sq.replay_stage(spark, multi_sf_dir)
    merged = multi_stage.single_file()
    assert os.path.isfile(merged)
    assert merged == multi_stage.single_file()  # cached per vintage
    t_merged = pq.read_table(merged)
    t_parts = pq.read_table(table_path(multi_sf_dir, "events"))
    # Content equality, not just row count (ADVICE r10 low): a merge
    # that drops columns or corrupts values at equal cardinality must
    # fail here. Sort by event_id — the merge need not preserve order.
    assert t_merged.schema.equals(t_parts.schema)
    assert (
        t_merged.sort_by("event_id").to_pydict()
        == t_parts.sort_by("event_id").to_pydict()
    )


def test_streaming_key_on_multifile_fixture(spark, sf_dir, multi_sf_dir):
    """End-to-end: a windowed streaming aggregate over a directory-shaped
    events table must equal the single-file run — the split is physical
    layout only, so any divergence is an encounter-order dependence."""
    key = "q_events_tumbling"
    rows_multi = sorted(
        map(tuple, QUERIES[key](spark, multi_sf_dir).collect())
    )
    rows_single = sorted(map(tuple, QUERIES[key](spark, sf_dir).collect()))
    assert rows_multi == rows_single


def test_file_metadata_layout_invariant(spark, sf_dir, multi_sf_dir):
    """src_file_metadata verifies the per-file lineage contract without
    exposing layout-dependent values, so one file and 3 parts agree."""
    key = "src_file_metadata"
    one = QUERIES[key](spark, sf_dir).collect()[0]
    many = QUERIES[key](spark, multi_sf_dir).collect()[0]
    assert one.n_rows == many.n_rows
    assert one.files_zero_based and many.files_zero_based
    assert one.row_index_dense and many.row_index_dense
