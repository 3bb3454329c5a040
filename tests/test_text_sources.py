"""MatrixMarket / SNAP temporal loaders (sources/textgraph.py) — the
reference's own input formats (mtx.hxx, snap.hxx) end-to-end."""

from __future__ import annotations

import numpy as np
import pytest

from pagerank_cuda_dynamic_spark.operators.pagerank_bsp import pagerank_static_bsp
from pagerank_cuda_dynamic_spark.sources.textgraph import (
    read_mtx,
    read_mtx_header,
    read_snap_temporal,
    snapshot_from_mtx,
    write_mtx,
)
from tests.oracle import add_self_loops_np, pagerank_numpy


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_mtx_header_and_pattern_body(spark, tmp_path):
    path = _write(
        tmp_path,
        "g.mtx",
        "%%MatrixMarket matrix coordinate pattern general\n"
        "% a comment\n"
        "4 4 3\n"
        "1 2\n"
        "2 3\n"
        "4 1\n",
    )
    hdr = read_mtx_header(path)
    assert (hdr.rows, hdr.cols, hdr.nnz) == (4, 4, 3)
    assert not hdr.symmetric and not hdr.weighted
    rows = {(r.src, r.dst) for r in read_mtx(spark, path).collect()}
    assert rows == {(1, 2), (2, 3), (4, 1)}  # 1-indexed ids preserved
    rows0 = {(r.src, r.dst) for r in read_mtx(spark, path, zero_index=True).collect()}
    assert rows0 == {(0, 1), (1, 2), (3, 0)}


def test_mtx_symmetric_mirrors_offdiagonal_only(spark, tmp_path):
    path = _write(
        tmp_path,
        "sym.mtx",
        "%%MatrixMarket matrix coordinate pattern symmetric\n"
        "3 3 3\n"
        "2 1\n"
        "3 1\n"
        "2 2\n",  # diagonal entry must NOT be mirrored into a duplicate
    )
    rows = [(r.src, r.dst) for r in read_mtx(spark, path).collect()]
    assert sorted(rows) == [(1, 2), (1, 3), (2, 1), (2, 2), (3, 1)]


def test_mtx_size_line_dropped_by_position_not_content(spark, tmp_path):
    # An integer-field edge row textually identical to the size line ("3 3 4")
    # must survive: the loader drops the first non-comment line by position.
    path = _write(
        tmp_path,
        "w.mtx",
        "%%MatrixMarket matrix coordinate integer general\n"
        "3 3 4\n"
        "1 2 7\n"
        "3 3 4\n"
        "2 3 1\n"
        "3 1 2\n",
    )
    rows = sorted((r.src, r.dst, r.w) for r in read_mtx(spark, path).collect())
    assert rows == [(1, 2, 7.0), (2, 3, 1.0), (3, 1, 2.0), (3, 3, 4.0)]


def test_loaders_reject_globs_and_raise_on_malformed_lines(spark, tmp_path):
    with pytest.raises(ValueError, match="glob"):
        read_snap_temporal(spark, str(tmp_path / "part-*.txt"))
    # a non-numeric token fails LOUDLY: ANSI cast error (Spark 4 default) or
    # the loader's raise_error guard (ANSI off / missing token) — never a
    # silent NULL edge
    bad = _write(tmp_path, "bad_line.txt", "1 2\n3 four\n")
    with pytest.raises(Exception, match="unparseable graph line|CAST_INVALID_INPUT|NumberFormatException"):
        read_snap_temporal(spark, bad).collect()
    short = _write(tmp_path, "short_line.txt", "1 2 0.5\n3 4\n")
    with pytest.raises(Exception, match="unparseable graph line|CAST_INVALID_INPUT"):
        read_snap_temporal(spark, short, weighted=True).collect()


def test_cli_rejects_conflicting_inputs(tmp_path):
    from pagerank_cuda_dynamic_spark.cli import main

    with pytest.raises(SystemExit):
        main(["--input-mtx", "a.mtx", "--synthesize", "10", "--out", str(tmp_path / "o")])


def test_mtx_rejects_bad_inputs(spark, tmp_path):
    bad = _write(tmp_path, "bad.mtx", "not a banner\n1 1 0\n")
    with pytest.raises(ValueError, match="banner"):
        read_mtx_header(bad)
    arr = _write(
        tmp_path, "arr.mtx", "%%MatrixMarket matrix array real general\n2 2\n1.0\n"
    )
    with pytest.raises(ValueError, match="object/format"):
        read_mtx_header(arr)
    with pytest.raises(ValueError, match="directory"):
        read_mtx_header(str(tmp_path))


def test_snapshot_from_mtx_matches_numpy_pagerank(spark, tmp_path):
    # readMtxIfW vertex-range semantics: vertex 5 exists edgeless (rows=5).
    path = _write(
        tmp_path,
        "pr.mtx",
        "%%MatrixMarket matrix coordinate pattern general\n"
        "5 5 5\n"
        "1 2\n"
        "2 3\n"
        "3 1\n"
        "1 4\n"
        "4 2\n",
    )
    g = snapshot_from_mtx(spark, path)
    assert g.n == 5
    src = np.array([0, 1, 2, 0, 3])
    dst = np.array([1, 2, 0, 3, 1])
    s, d = add_self_loops_np(5, src, dst)
    expect, _ = pagerank_numpy(5, s, d)
    res = pagerank_static_bsp(g)
    assert np.allclose(res.ranks, expect, atol=1e-9)
    g.unpersist()


def test_snap_temporal_seq_is_edge_record_order(spark, tmp_path):
    path = _write(
        tmp_path,
        "t.txt",
        "# comment lines are not counted\n"
        "10 11\n"
        "11 12\n"
        "% neither are these\n"
        "\n"
        "12 10\n",
    )
    rows = sorted(
        ((r.seq, r.src, r.dst) for r in read_snap_temporal(spark, path).collect())
    )
    assert rows == [(0, 10, 11), (1, 11, 12), (2, 12, 10)]


def test_write_mtx_roundtrip(spark, tmp_path):
    import pandas as pd

    pdf = pd.DataFrame({"src": [0, 1, 2, 0], "dst": [1, 2, 0, 2], "w": [0.5, 1.5, 2.0, 3.25]})
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "rt.mtx")
    write_mtx(df, path, one_index=True)
    hdr = read_mtx_header(path)
    assert hdr.weighted and not hdr.symmetric and hdr.nnz == 4
    assert hdr.rows == hdr.cols == 3
    back = read_mtx(spark, path, zero_index=True)
    got = sorted((r.src, r.dst, r.w) for r in back.collect())
    assert got == [(0, 1, 0.5), (0, 2, 3.25), (1, 2, 1.5), (2, 0, 2.0)]


def test_write_mtx_pattern_unweighted(spark, tmp_path):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"src": [1, 2], "dst": [2, 1]}))
    path = str(tmp_path / "p.mtx")
    write_mtx(df, path, rows=4, cols=4)
    hdr = read_mtx_header(path)
    assert not hdr.weighted and (hdr.rows, hdr.cols, hdr.nnz) == (4, 4, 2)
    back = {(r.src, r.dst) for r in read_mtx(spark, path).collect()}
    assert back == {(1, 2), (2, 1)}


def test_cli_input_mtx_static(spark, tmp_path):
    """A reference user's workflow: point the CLI at their .mtx file."""
    from pagerank_cuda_dynamic_spark.cli import main

    path = _write(
        tmp_path,
        "g.mtx",
        "%%MatrixMarket matrix coordinate pattern general\n"
        "4 4 4\n"
        "1 2\n"
        "2 3\n"
        "3 4\n"
        "4 1\n",
    )
    out = str(tmp_path / "ranks")
    assert main(["--input-mtx", path, "--out", out]) == 0
    got = {r.vertex: r.rank for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2, 3, 4}  # file's own 1-indexed ids
    s, d = add_self_loops_np(4, np.array([0, 1, 2, 3]), np.array([1, 2, 3, 0]))
    expect, _ = pagerank_numpy(4, s, d)
    assert np.allclose([got[v + 1] for v in range(4)], expect, atol=1e-9)


def test_cli_input_temporal_dynamic_batches(spark, tmp_path):
    from pagerank_cuda_dynamic_spark.cli import main

    lines = [f"{i % 7} {(i * 3 + 1) % 7}" for i in range(40)]
    path = _write(tmp_path, "t.txt", "\n".join(lines) + "\n")
    out = str(tmp_path / "ranks_t")
    rc = main(
        ["--input-temporal", path, "--technique", "dfp", "--batches", "2", "--out", out]
    )
    assert rc == 0
    df = spark.read.parquet(out)
    assert df.count() == 7 and set(df.columns) == {"vertex", "rank"}
    total = sum(r.rank for r in df.collect())
    assert abs(total - 1.0) < 1e-8


def test_snap_temporal_weighted_prefix_slice(spark, tmp_path):
    path = _write(
        tmp_path,
        "tw.txt",
        "1 2 0.5\n2 3 1.5\n3 1 2.5\n1 3 3.5\n",
    )
    df = read_snap_temporal(spark, path, weighted=True)
    base = df.where("seq < 3")  # the reference's 90%-prefix base-graph cut
    assert base.count() == 3
    w = {(r.src, r.dst): r.w for r in df.collect()}
    assert w[(1, 3)] == 3.5 and w[(2, 3)] == 1.5
