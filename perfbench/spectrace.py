"""Single-process replay of documents through ``oracle.extract_document``,
plain or with the public spec rule functions wrapped by timers and
counters.

The wrappers replace module attributes for the duration of one replay in
this process only; Spark workers never see them. ``reading_order`` is
patched where ``spec.page`` imported it, and ``assemble_page_results`` and
``process_page`` where ``oracle`` imported them.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from dots_ocr_spark import oracle
from dots_ocr_spark.spec import cleaner, geometry, page, render, toc, words

#: (timer, module, attribute) of every wrapped rule. Both render entry
#: points share one timer: cells_to_markdown calls render_cell_markdown,
#: and a nested call of a timer that is already running is not re-timed.
_RULES = (
    ("repair", cleaner, "clean_model_output"),
    ("iou", geometry, "exclude_overlap_boxes"),
    ("words", words, "fill_cell_texts"),
    ("toc", toc, "apply_toc_rebuild"),
    ("xycut", page, "reading_order"),
    ("render", render, "cells_to_markdown"),
    ("render", render, "render_cell_markdown"),
    ("assemble", oracle, "assemble_page_results"),
    ("page", oracle, "process_page"),
)

#: timers that run inside process_page, subtracted to get its self time
_PAGE_CHILDREN = ("repair", "iou", "words", "toc", "xycut", "render")


class RuleProfile:
    """Seconds and calls per wrapped rule, plus page and cell counts."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.counts: Counter = Counter()
        self._running: Counter = Counter()

    def _observe(self, attr: str, args, result) -> None:
        if attr == "process_page":
            self.counts["pages_" + result["status"]] += 1
        elif attr == "exclude_overlap_boxes":
            self.counts["cells_in"] += len(args[0])
            self.counts["cells_suppressed"] += len(args[0]) - len(result)

    def _wrap(self, timer: str, attr: str, fn):
        def wrapper(*args, **kwargs):
            self.calls[attr] += 1
            if self._running[timer]:
                result = fn(*args, **kwargs)
            else:
                self._running[timer] += 1
                t0 = time.perf_counter()
                try:
                    result = fn(*args, **kwargs)
                finally:
                    self.seconds[timer] += time.perf_counter() - t0
                    self._running[timer] -= 1
            self._observe(attr, args, result)
            return result
        return wrapper

    @contextmanager
    def patched(self):
        saved = [(mod, attr, getattr(mod, attr)) for _, mod, attr in _RULES]
        try:
            for timer, mod, attr in _RULES:
                setattr(mod, attr, self._wrap(timer, attr, getattr(mod, attr)))
            yield self
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def page_self_s(self) -> float:
        return self.seconds["page"] - sum(self.seconds[t] for t in _PAGE_CHILDREN)


def replay_s(docs: list[dict]) -> float:
    """Wall seconds to extract every doc once through the oracle."""
    t0 = time.perf_counter()
    for d in docs:
        oracle.extract_document(d)
    return time.perf_counter() - t0


def profile_spec(docs: list[dict], repeats: int) -> dict:
    """Plain and wrapped replays, alternating after one warm-up replay:
    the plain median gives throughput, the wrapped replays the per-rule
    breakdown (median of each timer), and their ratio the slowdown the
    wrappers add (the tracing overhead). Counts are per replay."""
    replay_s(docs)
    plain, wrapped, profiles = [], [], []
    for _ in range(repeats):
        plain.append(replay_s(docs))
        prof = RuleProfile()
        with prof.patched():
            wrapped.append(replay_s(docs))
        profiles.append(prof)

    def med(fn):
        return statistics.median(fn(p) for p in profiles)

    prof = profiles[-1]
    out = {
        "spec.docs_per_s_1core": len(docs) / statistics.median(plain),
        "spec.page_self_s": med(RuleProfile.page_self_s),
    }
    for timer in ("repair", "iou", "words", "toc", "xycut", "render", "assemble"):
        out[f"spec.{timer}_s"] = med(lambda p: p.seconds[timer])
    for count in ("pages_ok", "pages_fallback", "pages_failed", "cells_in",
                  "cells_suppressed"):
        out[f"spec.{count}"] = prof.counts[count]
    out["spec.render_calls"] = prof.calls["cells_to_markdown"]
    out["trace.spec_overhead_frac"] = (
        statistics.median(wrapped) / statistics.median(plain) - 1.0)
    return out
