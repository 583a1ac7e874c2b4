"""A3 — ordered cells → Markdown fold (+ the nohf variant, F3).

Deterministic re-implementation of ``layoutjson2md``
(`/root/reference/dots_ocr/utils/format_transformer.py:141-179`).

Faithfully reproduced quirk: the reference's Picture branch is commented
out, so a Picture cell (no text) falls into the generic branch and
contributes an EMPTY string item to the ``"\\n\\n"`` join.
"""

from __future__ import annotations

from .textnorm import clean_text, formula_in_markdown

PAGE_HF_CATEGORIES = ("Page-header", "Page-footer")


def render_cell_markdown(cell: dict) -> str:
    """Per-category rendering of one cell's text."""
    text = cell.get("text", "")
    if cell.get("category") == "Formula":
        return formula_in_markdown(text)
    return clean_text(text)


def cells_to_markdown(cells: list[dict]) -> tuple[str, str, list[str]]:
    """Fold ordered cells into the page Markdown strings, rendering each
    cell once.

    Ref: format_transformer.py:141-179. Returns ``(md, md_nohf, texts)``:
    ``md_nohf`` drops Page-header/Page-footer cells (F3, the ``_nohf.md``
    variant) and ``texts[i]`` is cell ``i``'s rendered text.
    """
    texts = [render_cell_markdown(cell) for cell in cells]
    md = "\n\n".join(texts)
    md_nohf = "\n\n".join(t for cell, t in zip(cells, texts)
                           if cell.get("category") not in PAGE_HF_CATEGORIES)
    return md, md_nohf, texts
