"""zorder layout, pagerank, source_overlap_matrix, embedding_outliers."""

from __future__ import annotations

import math
import os
import tempfile


def test_zorder_key_interleaves_bits(spark):
    from etl_gcp_spark.operators.layout import zorder_key

    # x spans 0..255 so min/max normalization is the identity on the
    # 8-bit grid; hand-check Morton codes
    rows = [(0, 0), (1, 0), (0, 1), (255, 255), (3, 5)]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(rows)]
        + [(99, 255, 0), (98, 0, 255)],
        "id long, x long, y long",
    )
    out = {r["id"]: r["zkey"] for r in zorder_key(df, ["x", "y"]).collect()}
    assert out[0] == 0
    assert out[1] == 1  # x occupies even bit positions
    assert out[2] == 2  # y occupies odd bit positions
    assert out[3] == 65535
    # interleave(3=0b011, 5=0b101) = x bits at 0,2,4 / y bits at 1,3,5
    expect = (1 << 0) + (1 << 2) + (1 << 1) + (1 << 5)
    assert out[4] == expect


def test_zorder_buckets_are_tight_on_both_dims(spark, sf_dir):
    from etl_gcp_spark.operators.layout import zorder_layout_stats
    from etl_gcp_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    rows = zorder_layout_stats(
        orders, ["o_custkey", "o_totalprice"]
    ).collect()
    glob = orders.selectExpr(
        "max(o_custkey) - min(o_custkey) AS ck",
        "max(o_totalprice) - min(o_totalprice) AS tp",
    ).first()
    assert sum(r["n_rows"] for r in rows) == orders.count()
    # median per-bucket span must be well under the global span on
    # BOTH dimensions — the multi-dim clustering property a plain
    # single-column sort cannot deliver
    ck = sorted(r["max_o_custkey"] - r["min_o_custkey"] for r in rows)
    tp = sorted(r["max_o_totalprice"] - r["min_o_totalprice"] for r in rows)
    assert ck[len(ck) // 2] <= glob["ck"] * 0.5
    assert tp[len(tp) // 2] <= glob["tp"] * 0.5


def test_write_zordered_roundtrip(spark, sf_dir):
    from etl_gcp_spark.operators.layout import write_zordered
    from etl_gcp_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders").limit(1000)
    path = os.path.join(tempfile.gettempdir(), "etl_gcp_spark_zorder_test")
    write_zordered(orders, path, ["o_custkey", "o_totalprice"], n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert "zkey" not in back.columns
    assert set(back.columns) == set(orders.columns)


def test_pagerank_two_node_cycle_is_uniform(spark):
    from etl_gcp_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], "src string, dst string, w long"
    )
    nodes = spark.createDataFrame([("a",), ("b",)], "node string")
    out = {r["node"]: r["pagerank"] for r in pagerank(edges, nodes).collect()}
    assert math.isclose(out["a"], 0.5, abs_tol=1e-6)
    assert math.isclose(out["b"], 0.5, abs_tol=1e-6)


def test_pagerank_sink_accumulates_rank(spark):
    from etl_gcp_spark.operators.graph import pagerank

    # a -> b, b is a sink (dangling mass not redistributed, so total
    # rank < 1 but b must outrank a)
    edges = spark.createDataFrame(
        [("a", "b", 1)], "src string, dst string, w long"
    )
    nodes = spark.createDataFrame([("a",), ("b",)], "node string")
    out = {r["node"]: r["pagerank"] for r in pagerank(edges, nodes).collect()}
    assert out["b"] > out["a"]
    assert math.isclose(out["a"], 0.075, abs_tol=1e-6)  # (1-d)/n


def test_source_overlap_matrix_identical_sources(spark):
    from etl_gcp_spark.operators.corpus import source_overlap_matrix

    docs = spark.createDataFrame(
        [
            (1, "a b c d e", "s1"),
            (2, "a b c d e", "s2"),  # identical shingle set as s1
            (3, "x y z w q", "s3"),  # disjoint from both
        ],
        "doc_id long, text string, source string",
    )
    rows = source_overlap_matrix(docs).collect()
    assert len(rows) == 1  # only (s1, s2) share anything
    (r,) = rows
    assert (r["src_a"], r["src_b"]) == ("s1", "s2")
    assert r["jaccard"] == 1.0
    assert r["n_shared"] == 3


def test_embedding_outliers_flags_the_flipped_vector(spark):
    from etl_gcp_spark.functions.similarity import embedding_outliers

    vecs = [(i, [1.0, 0.0], 0) for i in range(9)] + [(9, [-1.0, 0.0], 0)]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["vec_id"]: r for r in embedding_outliers(emb, dim=2).collect()
    }
    # centroid = (0.8, 0): cos=1 for the 9, cos=-1 for the flip;
    # mean 0.8, pop std 0.6 -> z = -3 for the flip
    assert out[9]["is_outlier"] is True
    assert math.isclose(out[9]["z"], -3.0, abs_tol=1e-3)
    assert out[0]["is_outlier"] is False


def _hilbert_xy2d(n: int, x: int, y: int) -> int:
    # pure-Python reference (classic iterative walk)
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_exhaustively(spark):
    from etl_gcp_spark.operators.layout import hilbert_key

    # full 16x16 grid at bits=4; corners pin the normalization to the
    # identity map so every cell is its own grid coordinate
    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "id long, x long, y long",
    )
    out = {
        (r["x"], r["y"]): r["hkey"]
        for r in hilbert_key(df, ["x", "y"], bits=4).collect()
    }
    for x, y in pts:
        assert out[(x, y)] == _hilbert_xy2d(16, x, y), (x, y)


def test_hilbert_consecutive_cells_are_adjacent(spark):
    from etl_gcp_spark.operators.layout import hilbert_key

    # the defining Hilbert property (and what Z-order lacks): each
    # curve step moves Manhattan distance EXACTLY 1
    pts = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "id long, x long, y long",
    )
    rows = hilbert_key(df, ["x", "y"], bits=5).collect()
    by_d = {r["hkey"]: (r["x"], r["y"]) for r in rows}
    assert sorted(by_d) == list(range(32 * 32))  # a bijection
    for d in range(1, 32 * 32):
        (x0, y0), (x1, y1) = by_d[d - 1], by_d[d]
        assert abs(x0 - x1) + abs(y0 - y1) == 1, d


def test_hilbert_buckets_tighter_than_zorder_on_grid(spark):
    from etl_gcp_spark.operators.layout import (
        hilbert_layout_stats,
        zorder_layout_stats,
    )

    # uniform 64x64 grid: Hilbert's adjacent-step walk must yield a
    # strictly smaller total per-bucket bounding-box area than the
    # jumpy Morton curve (the reason to pay for the rotate/reflect)
    pts = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(pts, "x long, y long")

    def total_area(rows):
        return sum(
            (r["max_x"] - r["min_x"] + 1) * (r["max_y"] - r["min_y"] + 1)
            for r in rows
        )

    hil = total_area(
        hilbert_layout_stats(df, ["x", "y"], bits=6, n_buckets=16).collect()
    )
    zor = total_area(
        zorder_layout_stats(df, ["x", "y"], bits=6, n_buckets=16).collect()
    )
    assert hil <= zor
