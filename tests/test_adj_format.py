"""Round-trip tests for the reference adjacency text formats.

Sample strings are written fresh from the documented grammar
(/root/reference/docs/TUTORIALS.md:22-42) — same shapes as the
reference's sample-datasets, content synthesized here.
"""

from __future__ import annotations

from tests.conftest import requires_reference

NORMAL = """\
1\t3 2 3 4
2\t2 1 3
3\t3 1 2 4
4\t2 1 3
"""

LABEL = """\
1 a\t2 b 3 c
2 b\t1 a
3 c\t1 a
"""

ATTR = """\
1\tred big\t2 2 3
2\tblue\t1 1
3\tred\t1 1
"""

MULTI = """\
1\tred\t2 2 0.5 3 1.5
2\tblue\t1 1 0.5
3\tred\t1 1 1.5
"""

PARTED = """\
1 1\t2 2 3 3
2 2\t1 1
3 3\t1 1
"""


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def test_read_normal(spark, tmp_path):
    from gminer_spark.web.adj_format import read_normal

    e = read_normal(spark, _write(tmp_path, "n.adj", NORMAL))
    got = {(r.src, r.dst) for r in e.collect()}
    assert got == {(1, 2), (1, 3), (1, 4), (2, 1), (2, 3), (3, 1), (3, 2), (3, 4), (4, 1), (4, 3)}


def test_read_label(spark, tmp_path):
    from gminer_spark.web.adj_format import read_label

    v, e = read_label(spark, _write(tmp_path, "l.adj", LABEL))
    assert {(r.id, r.label) for r in v.collect()} == {(1, "a"), (2, "b"), (3, "c")}
    assert {(r.src, r.dst) for r in e.collect()} == {(1, 2), (1, 3), (2, 1), (3, 1)}


def test_read_attr(spark, tmp_path):
    from gminer_spark.web.adj_format import read_attr

    v, e = read_attr(spark, _write(tmp_path, "a.adj", ATTR))
    attrs = {r.id: list(r.attrs) for r in v.collect()}
    assert attrs[1] == ["red", "big"] and attrs[2] == ["blue"]
    assert {(r.src, r.dst) for r in e.collect()} == {(1, 2), (1, 3), (2, 1), (3, 1)}


def test_read_multi_attr(spark, tmp_path):
    from gminer_spark.web.adj_format import read_multi_attr

    v, e = read_multi_attr(spark, _write(tmp_path, "m.adj", MULTI))
    got = {(r.src, r.dst): r.weight for r in e.collect()}
    assert got == {(1, 2): 0.5, (1, 3): 1.5, (2, 1): 0.5, (3, 1): 1.5}


@requires_reference
def test_read_attr_reference_samples(spark):
    """Parse the ACTUAL reference sample files: attribute lists are
    space-separated (sample-datasets/attr_sample.adj line 1 is
    ``1\\tA1 B2 C9\\t3 2 4 5``), not comma-separated."""
    from gminer_spark.web.adj_format import read_attr, read_multi_attr

    v, e = read_attr(spark, "/root/reference/sample-datasets/attr_sample.adj")
    attrs = {r.id: list(r.attrs) for r in v.collect()}
    assert attrs[1] == ["A1", "B2", "C9"]
    assert attrs[5] == ["A1", "B2", "C3"]
    assert {(r.src, r.dst) for r in e.where("src = 1").collect()} == {
        (1, 2), (1, 4), (1, 5)
    }

    v2, e2 = read_multi_attr(
        spark, "/root/reference/sample-datasets/multi_attr_sample.adj"
    )
    attrs2 = {r.id: list(r.attrs) for r in v2.collect()}
    assert attrs2[3] == ["A6", "B7", "C3"]
    w = {(r.src, r.dst): r.weight for r in e2.where("src = 1").collect()}
    assert w == {(1, 2): 0.90, (1, 4): 0.30, (1, 5): 0.90}


def test_partitioned_roundtrip(spark, tmp_path):
    from gminer_spark.web.adj_format import read_partitioned, write_partitioned

    src = read_partitioned(spark, _write(tmp_path, "p.adj", PARTED))
    got = {(r.src, r.src_wid, r.dst, r.dst_wid) for r in src.collect()}
    assert (1, 1, 2, 2) in got and (3, 3, 1, 1) in got

    # write our canonical layout and read it back
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (3, 1)], "src long, dst long"
    )
    out = str(tmp_path / "dump")
    write_partitioned(edges, out, n_workers=2)
    back = read_partitioned(spark, out + "/wid=*")
    got2 = {(r.src, r.dst) for r in back.collect()}
    assert got2 == {(1, 2), (1, 3), (2, 1), (3, 1)}
    wids = {r.src: r.src_wid for r in back.collect()}
    assert wids[1] == 1 and wids[2] == 0
