"""Property fuzz for the .dst / .dst-xlsx interchange readers & writers.

The reference documents several format quirks (``Orange/misc/
distmatrix.py:113-245``): short lines are zero-padded, data above the
diagonal of a symmetric matrix is ignored, labels are arbitrary
tab-free strings (blank allowed), ``labeled``/``labelled`` alias
``row_labels``, and missing trailing rows are implicit zeros.  The r7
reader handles the quirks it was written against; these hypothesis
round-trips prove the ones it wasn't."""

import math

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:          # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from orange3_spark.sources.dst import (read_dst, read_dst_xlsx, write_dst,
                                       write_dst_xlsx)

# finite + NaN cell values, exact round-trip via repr
cell = st.one_of(
    st.just(float("nan")),
    st.floats(min_value=-1e6, max_value=1e6,
              allow_nan=False, allow_infinity=False))
# .dst labels must be non-empty and strip-stable: both the reference
# reader (distmatrix.py:222) and ours strip each LINE before splitting
# on tabs, so a blank or leading-whitespace label swallows its tab and
# shifts the row -- the format cannot represent such labels (write_dst
# refuses them; see test_dst_writer_rejects_unrepresentable_labels).
label = (st.text(
    alphabet=st.characters(
        min_codepoint=32, max_codepoint=126, blacklist_characters="\t"),
    min_size=1, max_size=8)
    .map(str.strip).filter(bool))


def _sym(draw_matrix):
    n = len(draw_matrix)
    m = [[0.0] * n for _ in range(n)]
    for i in range(n):
        for j in range(i):
            m[i][j] = m[j][i] = draw_matrix[i][j]
    return m


def _eq(a, b):
    return (math.isnan(a) and math.isnan(b)) or a == b


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tri=st.lists(st.lists(cell, min_size=8, max_size=8),
                    min_size=2, max_size=8))
def test_dst_roundtrip_symmetric_with_nans(spark, tmp_path_factory, tri):
    """write_dst -> read_dst is exact (repr round-trip) for any symmetric
    matrix including NaN cells; the read-back square is mirrored with a
    zero diagonal."""
    n = len(tri)
    m = _sym([row[:n] for row in tri])
    rows = [(i, j, m[i][j]) for i in range(n) for j in range(i)]
    path = str(tmp_path_factory.mktemp("dst") / "m.dst")
    if not rows:        # n=... all pairs empty is valid: all-zero matrix
        rows = [(0, 1, 0.0)] if n >= 2 else rows
    pairs = spark.createDataFrame(rows, "id_a int, id_b int, dist double")
    write_dst(pairs, path)
    back = read_dst(spark, path)
    got = {(r["i"], r["j"]): r["dist"] for r in back.collect()}
    ids = sorted({a for a, _b, _d in rows} | {b for _a, b, _d in rows})
    pos = {v: k for k, v in enumerate(ids)}
    nn = len(ids)
    assert len(got) == nn * nn
    for i in range(nn):
        assert got[(i, i)] == 0.0
    want = {}
    for a, b, d in rows:
        want[(pos[a], pos[b])] = want[(pos[b], pos[a])] = d
    for (i, j), v in got.items():
        if i == j:
            continue
        assert _eq(v, want.get((i, j), 0.0))
        assert _eq(v, got[(j, i)])          # mirrored


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tri=st.lists(st.lists(cell, min_size=8, max_size=8),
                    min_size=2, max_size=8),
       labels=st.lists(label, min_size=8, max_size=8),
       flag=st.sampled_from(["row_labels", "labeled", "labelled"]),
       mode=st.sampled_from(["plain", "pad", "junk"]))
def test_dst_reader_quirks(spark, tmp_path_factory, tri, labels, flag,
                           mode):
    """Hand-written .dst files exercising the documented quirks: obsolete
    label-flag aliases, blank/spacey labels, short (zero-padded) lines,
    ignored above-diagonal junk, and missing trailing rows."""
    # pad and junk are exercised separately: a zero-padded SHORT row has
    # no above-diagonal slot, so junk appended to it would land on the
    # diagonal — a real cell, not ignorable junk
    pad, junk = mode == "pad", mode == "junk"
    n = len(tri)
    m = _sym([row[:n] for row in tri])
    labels = (labels[:n] + [f"r{k}" for k in range(n)])[:n]
    path = str(tmp_path_factory.mktemp("dstq") / "q.dst")
    lines = [f"{n}\taxis=1\t{flag}"]
    last = n - 1 if junk else n   # drop the last row -> implicit zeros
    for i in range(last):
        cells = [repr(m[i][j]) for j in range(i + 1)]
        if pad and i > 0:
            cells = cells[:-1]    # short line: zero-padded on read
        if junk:
            cells += ["9e9"]      # above-diagonal junk: ignored
        lines.append(labels[i] + "\t" + "\t".join(cells))
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    back = read_dst(spark, path)
    got = {(r["i"], r["j"]): (r["row_label"], r["dist"])
           for r in back.collect()}
    assert len(got) == n * n
    assert back.dst_meta == {"n": n, "axis": 1, "symmetric": True}
    for i in range(n):
        for j in range(n):
            lab, v = got[(i, j)]
            if i < last:
                # label text survives verbatim (inner spaces ok)
                assert lab == labels[i]
            lo, hi = max(i, j), min(i, j)
            expect = 0.0
            if lo < last and not (pad and lo > 0 and hi == lo):
                expect = m[lo][hi] if lo != hi else 0.0
            if lo == hi:
                expect = m[lo][hi]  # diagonal comes from the file's cell
            if i < last or j < last:
                pass  # covered by expect above
            assert _eq(v, expect)


finite_cell = st.floats(min_value=-1e6, max_value=1e6,
                        allow_nan=False, allow_infinity=False)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tri=st.lists(st.lists(finite_cell, min_size=6, max_size=6),
                    min_size=2, max_size=6))
def test_dst_xlsx_roundtrip(spark, tmp_path_factory, tri):
    """The .dst xlsx variant round-trips symmetric matrices exactly.
    Finite cells only: xlsx has no NaN literal, so a NaN cell reads
    back as None by contract (test_dst_xlsx_nan_reads_none)."""
    n = len(tri)
    m = _sym([row[:n] for row in tri])
    rows = [(i, j, m[i][j]) for i in range(n) for j in range(i)]
    if not rows:
        rows = [(0, 1, 0.0)]
    path = str(tmp_path_factory.mktemp("dstx") / "m.xlsx")
    pairs = spark.createDataFrame(rows, "id_a int, id_b int, dist double")
    # xlsx has no header flags, so NUMERIC row labels are ambiguous with
    # data on read-back (documented write_dst_xlsx contract): round-trips
    # must pass non-numeric labels
    ids_all = sorted({a for a, _b, _d in rows} | {b for _a, b, _d in rows})
    write_dst_xlsx(pairs, path, labels={v: f"r{v}" for v in ids_all})
    back = read_dst_xlsx(spark, path)
    got = {(r["i"], r["j"]): r["dist"] for r in back.collect()}
    ids = sorted({a for a, _b, _d in rows} | {b for _a, b, _d in rows})
    pos = {v: k for k, v in enumerate(ids)}
    want = {}
    for a, b, d in rows:
        want[(pos[a], pos[b])] = want[(pos[b], pos[a])] = d
    for (i, j), v in got.items():
        if i != j:
            assert _eq(v, want.get((i, j), 0.0))


def test_dst_writer_rejects_unrepresentable_labels(spark, tmp_path):
    """Blank / whitespace-padded / tab-carrying labels cannot survive the
    format's strip-then-split parse (reference parity: a blank first
    label shifts every cell left) — write_dst refuses them loudly
    instead of writing a file that mis-parses."""
    pairs = spark.createDataFrame([(0, 1, 2.0)],
                                  "id_a int, id_b int, dist double")
    for bad in ("", " x", "x ", "a\tb", "a\nb"):
        with pytest.raises(ValueError, match="not representable"):
            write_dst(pairs, str(tmp_path / "bad.dst"),
                      labels={0: bad, 1: "ok"})


def test_dst_xlsx_nan_reads_none(spark, tmp_path):
    """xlsx has no NaN numeric literal: a NaN distance round-trips to
    None (missing cell), mirroring the reference's empty-cell -> nan
    convention (_distmatrix_xlsx.py:83,127) in reverse."""
    pairs = spark.createDataFrame(
        [(0, 1, float("nan")), (0, 2, 3.5), (1, 2, 1.25)],
        "id_a int, id_b int, dist double")
    path = str(tmp_path / "m.xlsx")
    write_dst_xlsx(pairs, path, labels={0: "a", 1: "b", 2: "c"})
    back = {(r["i"], r["j"]): r["dist"]
            for r in read_dst_xlsx(spark, path).collect()}
    assert back[(1, 0)] is None
    assert back[(2, 0)] == 3.5 and back[(2, 1)] == 1.25


@pytest.mark.parametrize("writer", [write_dst, write_dst_xlsx])
def test_dst_writers_pair_cap(spark, tmp_path_factory, writer):
    """The driver-side writers take exactly ``max_pairs`` pairs and
    refuse one more, naming the cap."""
    rows = [(i, j, float(i + j)) for i in range(1, 4) for j in range(i)]
    pairs = spark.createDataFrame(rows, "id_a int, id_b int, dist double")
    path = str(tmp_path_factory.mktemp("dstcap") / "m")
    writer(pairs, path, labels={v: f"r{v}" for v in range(4)},
           max_pairs=len(rows))
    with pytest.raises(ValueError, match=f"> {len(rows) - 1} pairs"):
        writer(pairs, path, max_pairs=len(rows) - 1)
