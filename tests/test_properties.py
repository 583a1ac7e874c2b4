"""Property-based gates (hypothesis) over the shared spec rules: the
oracle and the Spark UDFs run this exact code, so invariants proven here
hold for the whole engine."""

import json
from collections import Counter

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dots_ocr_spark import fixtures, oracle
from dots_ocr_spark.spec import render
from dots_ocr_spark.spec.cleaner import clean_model_output
from dots_ocr_spark.spec.geometry import (
    clamp_bbox,
    exclude_overlap_boxes,
    smart_resize,
)
from dots_ocr_spark.spec.toc import indel_ratio
from dots_ocr_spark.spec.xycut import reading_order, xycut_order

# --------------------------------------------------------------------------
# indel_ratio == the O(n·m) DP it replaced
# --------------------------------------------------------------------------

_text = st.text(alphabet="abcde #.12", max_size=40)


def _dp_ratio(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la + lb == 0:
        return 100.0
    if la == 0 or lb == 0:
        return 0.0
    prev = [0] * (lb + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b):
            cur.append(prev[j] + 1 if ca == cb else max(cur[j], prev[j + 1]))
        prev = cur
    return 100.0 * 2.0 * prev[lb] / (la + lb)


@given(_text, _text)
@settings(max_examples=300, deadline=None)
def test_indel_ratio_matches_reference_dp(a, b):
    assert indel_ratio(a, b) == _dp_ratio(a, b)


@given(_text, _text)
@settings(max_examples=100, deadline=None)
def test_indel_ratio_symmetric_and_bounded(a, b):
    r = indel_ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert r == indel_ratio(b, a)
    if a == b and a:
        assert r == 100.0


# --------------------------------------------------------------------------
# cleaner: total function over junk; fixpoint on its own output
# --------------------------------------------------------------------------

_junk = st.one_of(
    st.text(max_size=200),
    st.text(alphabet='{}[]",:bboxcategorytext0123456789 ', max_size=200),
)


@given(_junk)
@settings(max_examples=300, deadline=None)
def test_cleaner_never_raises(payload):
    cells = clean_model_output(payload)
    assert isinstance(cells, list)
    for c in cells:
        assert isinstance(c, dict)


@given(st.lists(
    st.fixed_dictionaries({
        "bbox": st.tuples(st.integers(0, 500), st.integers(0, 500),
                          st.integers(1, 400), st.integers(1, 400))
        .map(lambda t: [t[0], t[1], t[0] + t[2], t[1] + t[3]]),
        "category": st.sampled_from(["Text", "Title", "Table", "Formula"]),
        "text": st.text(alphabet="ab c", max_size=20),
    }), max_size=8))
@settings(max_examples=150, deadline=None)
def test_cleaner_fixpoint_on_valid_json(cells):
    once = clean_model_output(json.dumps(cells))
    twice = clean_model_output(json.dumps(once))
    assert once == twice


# --------------------------------------------------------------------------
# smart_resize: contract invariants
# --------------------------------------------------------------------------

@given(st.integers(28, 4000), st.integers(28, 4000))
@settings(max_examples=300, deadline=None)
def test_smart_resize_invariants(h, w):
    if max(h, w) / min(h, w) > 200:
        return
    nh, nw = smart_resize(h, w)
    assert nh % 28 == 0 and nw % 28 == 0
    assert 3136 <= nh * nw <= 11289600


# --------------------------------------------------------------------------
# reading order: permutation of the input never changes the visual order
# --------------------------------------------------------------------------

_grid_boxes = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 6)), min_size=1, max_size=10,
    unique=True,
).map(lambda cells: [
    [100 + c * 400, 150 + r * 220, 100 + c * 400 + 360, 150 + r * 220 + 180]
    for (c, r) in cells
])


@given(_grid_boxes, st.randoms())
@settings(max_examples=150, deadline=None)
def test_reading_order_permutation_invariant(boxes, rnd):
    base = [boxes[i] for i in reading_order(boxes)]
    perm = list(boxes)
    rnd.shuffle(perm)
    assert [perm[i] for i in reading_order(perm)] == base


@given(_grid_boxes)
@settings(max_examples=100, deadline=None)
def test_reading_order_is_a_permutation(boxes):
    order = reading_order(boxes)
    assert sorted(order) == list(range(len(boxes)))


# --------------------------------------------------------------------------
# fill_cell_texts (block-pruned) == clip_text (scalar spec) per cell
# --------------------------------------------------------------------------

_coord = st.integers(min_value=0, max_value=300)


@st.composite
def _word_layer(draw):
    n = draw(st.integers(min_value=0, max_value=40))
    words = []
    for k in range(n):
        x0 = draw(_coord)
        y0 = draw(_coord)
        words.append([
            x0, y0,
            x0 + draw(st.integers(min_value=1, max_value=40)),
            y0 + draw(st.integers(min_value=1, max_value=20)),
            draw(st.sampled_from("abcdef")) + str(k),
            draw(st.integers(min_value=0, max_value=5)),   # block_no
            draw(st.integers(min_value=0, max_value=3)),   # line_no
            k,                                             # word_no
        ])
    return words


@st.composite
def _cells(draw):
    n = draw(st.integers(min_value=1, max_value=6))
    out = []
    for _ in range(n):
        x0 = draw(_coord)
        y0 = draw(_coord)
        out.append({
            "bbox": [x0, y0, x0 + draw(st.integers(min_value=5, max_value=200)),
                     y0 + draw(st.integers(min_value=5, max_value=200))],
            "category": draw(st.sampled_from(
                ["Text", "Title", "Caption", "Table", "Picture"])),
        })
    return out


@given(_word_layer(), _cells(),
       st.sampled_from([1.0, 2.0, 200.0 / 72.0]))
@settings(max_examples=200, deadline=None)
def test_block_pruned_fill_equals_scalar_clip(words, cells, sf):
    from dots_ocr_spark.spec.words import (
        SKIP_CLIP_CATEGORIES,
        clip_text,
        fill_cell_texts,
    )

    filled = [dict(c) for c in cells]
    fill_cell_texts(filled, words, sf)
    for before, after in zip(cells, filled):
        if before["category"] in SKIP_CLIP_CATEGORIES:
            assert "text" not in after
        else:
            expected = clip_text(words, [v / sf for v in before["bbox"]])
            assert after["text"] == expected


# --------------------------------------------------------------------------
# sort-and-sweep IoU suppression == the numpy pair-matrix form
# --------------------------------------------------------------------------

def _pair_matrix_exclude(cells, iou_threshold=0.9):
    """The n x n float64 form the sweep replaced."""
    n = len(cells)
    if n <= 1:
        return list(cells)
    b = np.array([c["bbox"] for c in cells], dtype=np.float64)
    areas = (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])
    x1 = np.maximum(b[:, None, 0], b[None, :, 0])
    y1 = np.maximum(b[:, None, 1], b[None, :, 1])
    x2 = np.minimum(b[:, None, 2], b[None, :, 2])
    y2 = np.minimum(b[:, None, 3], b[None, :, 3])
    inter = np.maximum(x2 - x1, 0.0) * np.maximum(y2 - y1, 0.0)
    union = areas[:, None] + areas[None, :] - inter
    iou_m = np.divide(inter, union, out=np.zeros_like(inter),
                      where=union > 0)
    overlap = iou_m > iou_threshold
    np.fill_diagonal(overlap, False)
    remove = (overlap & (areas[:, None] < areas[None, :])).any(axis=1)
    return [c for idx, c in enumerate(cells) if not remove[idx]]


# past 2**53 a float64 no longer holds every int: there the sweep's
# float() conversion is what keeps its ratios equal to the matrix's
_num = st.one_of(st.integers(-50, 1200),
                 st.floats(-50, 1200, allow_nan=False),
                 st.integers(2**53, 2**56))
_extent = st.one_of(st.integers(20, 400), st.floats(20, 400))


@st.composite
def _page_boxes(draw, max_n=12):
    """Bboxes as ``_validate_cells`` leaves them — legal, then clamped to
    the page: int and float coordinates, identical copies, shifted
    copies (mostly of equal area), copies with one edge pulled in by up
    to 2 (IoU > 0.9 with their base for most extents, so suppression
    fires), and boxes starting past the page edge, which the clamp
    inverts."""
    width = draw(st.one_of(st.integers(300, 1000), st.just(2**57)))
    height = draw(st.one_of(st.integers(300, 1000), st.just(2**57)))
    boxes: list[list] = []
    for _ in range(draw(st.integers(0, max_n))):
        kind = draw(st.sampled_from(("new", "copy", "shift", "shrink"))
                    ) if boxes else "new"
        if kind == "new":
            x0, y0 = draw(_num), draw(_num)
            box = [x0, y0, x0 + draw(_extent), y0 + draw(_extent)]
        else:
            box = list(draw(st.sampled_from(boxes)))
            if kind == "shift":
                dx, dy = draw(st.integers(-5, 5)), draw(st.integers(-5, 5))
                box = [box[0] + dx, box[1] + dy, box[2] + dx, box[3] + dy]
            elif kind == "shrink":
                edge = draw(st.integers(0, 3))
                step = draw(st.sampled_from((1, 2, 0.5)))
                box[edge] += step if edge < 2 else -step
        boxes.append(box)
    return [clamp_bbox(b, width, height) for b in boxes]


def _as_cells(boxes):
    return [{"bbox": b, "category": "Text", "id": i} for i, b in enumerate(boxes)]


@given(_page_boxes(), st.sampled_from((0.0, 0.5, 0.9)))
@settings(max_examples=400, deadline=None)
def test_sweep_suppression_equals_pair_matrix(boxes, threshold):
    cells = _as_cells(boxes)
    got = exclude_overlap_boxes(cells, threshold)
    assert [c["id"] for c in got] == \
        [c["id"] for c in _pair_matrix_exclude(cells, threshold)]


def test_sweep_suppression_drops_like_pair_matrix():
    """Pages where boxes do drop (the fixture corpus suppresses none):
    a shrunk copy goes, an equal-area copy stays, a dropped box still
    drops a smaller one (no cascade), an inverted box never drops."""
    pages = [
        [[0, 0, 100, 100], [1, 0, 100, 100], [0, 0, 100, 100]],
        [[0.5, 0, 100, 100], [0, 0, 100, 100], [1, 1, 100, 100],
         [0, 0, 99.5, 100.0]],
        [[10, 10, 60, 60], [10, 10, 60, 59], [10, 10, 60, 58.5]],
        [clamp_bbox(b, 800, 1000) for b in ([900, 0, 1200, 100],
                                            [950, 0, 1200, 100],
                                            [0, 0, 500, 500],
                                            [0, 2, 500, 500])],
    ]
    kept = [[c["id"] for c in exclude_overlap_boxes(_as_cells(p))] for p in pages]
    assert kept == [[c["id"] for c in _pair_matrix_exclude(_as_cells(p))]
                    for p in pages]
    assert kept == [[0, 2], [1], [0], [0, 1, 2]]


def test_suppression_rejects_negative_threshold():
    # the sweep's early stop assumes a non-overlapping pair never drops
    with pytest.raises(ValueError, match="iou_threshold"):
        exclude_overlap_boxes(_as_cells([[0, 0, 1, 1], [5, 5, 6, 6]]), -0.1)


# --------------------------------------------------------------------------
# bisect-grouped XY-cut == the linear-scan form it replaced
# --------------------------------------------------------------------------

def _scan_merged_gaps(intervals):
    if not intervals:
        return []
    ivs = sorted(intervals)
    cuts = []
    cur_end = ivs[0][1]
    for lo, hi in ivs[1:]:
        if lo > cur_end:
            cuts.append((cur_end + lo) / 2.0)
        cur_end = max(cur_end, hi)
    return cuts


def _scan_split(indices, boxes, axis):
    cuts = _scan_merged_gaps(
        [(boxes[i][axis], boxes[i][axis + 2]) for i in indices])
    if not cuts:
        return [indices]
    groups = [[] for _ in range(len(cuts) + 1)]
    for i in indices:
        lo = boxes[i][axis]
        g = 0
        while g < len(cuts) and lo > cuts[g]:
            g += 1
        groups[g].append(i)
    return [g for g in groups if g]


def _scan_xycut(indices, boxes, out):
    if len(indices) <= 1:
        out.extend(indices)
        return
    for axis in (0, 1):
        groups = _scan_split(indices, boxes, axis)
        if len(groups) > 1:
            for g in groups:
                _scan_xycut(g, boxes, out)
            return
    first = min(indices, key=lambda i: (boxes[i][1], boxes[i][0], i))
    out.append(first)
    _scan_xycut([i for i in indices if i != first], boxes, out)


def _scan_reading_order(boxes, cats):
    n = len(boxes)
    if n <= 1:
        return list(range(n))
    headers = sorted((i for i in range(n) if cats[i] == "Page-header"),
                     key=lambda i: (boxes[i][1], boxes[i][0], i))
    footers = sorted((i for i in range(n) if cats[i] == "Page-footer"),
                     key=lambda i: (boxes[i][1], boxes[i][0], i))
    body = [i for i in range(n) if cats[i] not in ("Page-header", "Page-footer")]
    ordered: list[int] = []
    _scan_xycut(body, boxes, ordered)
    return headers + ordered + footers


@given(st.one_of(_page_boxes(max_n=16), _grid_boxes), st.data())
@settings(max_examples=400, deadline=None)
def test_bisect_xycut_equals_scan_xycut(boxes, data):
    cats = data.draw(st.lists(
        st.sampled_from(("Text", "Title", "Page-header", "Page-footer")),
        min_size=len(boxes), max_size=len(boxes)))
    expected: list[int] = []
    _scan_xycut(list(range(len(boxes))), boxes, expected)
    assert xycut_order(boxes) == expected
    assert reading_order(boxes, cats) == _scan_reading_order(boxes, cats)


def test_bisect_xycut_box_starting_on_a_cut():
    """A box inverted by the clamp can start exactly on a cut: its low
    edge 4 is the midpoint between the merged end 2 and the next box's
    start 6. It belongs to the group before that cut."""
    boxes = [[0, 0, 1, 1], clamp_bbox([4, 5, 9, 6], 2, 100), [6, 0, 7, 1]]
    expected: list[int] = []
    _scan_xycut([0, 1, 2], boxes, expected)
    assert xycut_order(boxes) == expected == [0, 1, 2]


# --------------------------------------------------------------------------
# every cell is rendered once per page
# --------------------------------------------------------------------------

def test_each_cell_rendered_once(monkeypatch):
    """One Markdown fold per non-failed page and one render per cell of
    it (spans are one per cell, so n_spans counts those cells)."""
    docs = fixtures.generate_docs(60)
    expected = [oracle.extract_document(d) for d in docs]
    assert sum(r["n_failed"] for r in expected) > 0
    assert sum(r["n_fallback"] for r in expected) > 0
    assert any(s["kind"] == "picture" for r in expected for s in r["spans"])

    calls: Counter = Counter()
    for name in ("render_cell_markdown", "cells_to_markdown"):
        def counted(*args, _fn=getattr(render, name), _name=name):
            calls[_name] += 1
            return _fn(*args)
        monkeypatch.setattr(render, name, counted)
    assert [oracle.extract_document(d) for d in docs] == expected
    assert calls["cells_to_markdown"] == sum(
        r["n_pages"] - r["n_failed"] for r in expected)
    assert calls["render_cell_markdown"] == sum(r["n_spans"] for r in expected)
