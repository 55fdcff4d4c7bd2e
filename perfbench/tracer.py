"""Spans around calls into ocrflow's public module functions.

A :class:`SpanRecorder` swaps module (or class) attributes for wrappers
that time each call and remember which wrapped call was running when it
started. A label's self time is its summed span time minus the span time
of its children, so the self times of one root call add up to that
call's wall time. Spans live in memory; nothing is written while timing.

The kernel tracer replays ``kernel.extract_batch`` in this process over
Arrow batches cut from the workload's own input, once untraced and once
traced per round, and checks that both give identical batches.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class SpanRecorder:
    def __init__(self) -> None:
        self.total: dict[str, float] = defaultdict(float)
        self.child: dict[str, float] = defaultdict(float)
        self.durations: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[str] = []

    def self_time(self, label: str) -> float:
        return self.total[label] - self.child[label]

    def _wrap(self, fn, label: str, count=None):
        stack = self._stack

        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            stack.append(label)
            try:
                out = fn(*args, **kwargs)
            finally:
                stack.pop()
                d = time.perf_counter() - t0
                self.total[label] += d
                self.durations[label].append(d)
                if stack:
                    self.child[stack[-1]] += d
            if count is not None:
                count(self.counts, args, out)
            return out

        return traced

    @contextmanager
    def patched(self, targets):
        """Wrap ``(owner, attribute, label[, count])`` targets for the
        duration of the block; ``count(counts, args, result)`` may add
        work counts at the same boundary."""
        saved = []
        try:
            for owner, attr, label, *count in targets:
                fn = getattr(owner, attr)
                saved.append((owner, attr, fn))
                setattr(owner, attr, self._wrap(fn, label, *count))
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)


def _count_blocks(counts, args, kept) -> None:
    counts["blocks"] += len(args[0])
    counts["blocks_kept"] += len(kept)


def kernel_targets():
    """The kernel's layers, outermost first (self time of each label):

    extract_batch        Arrow assembly and the per-turn loop
    extract_turn_arrays  A7 stitch and dispatch
    detect_payload_kind  A2 sniff
    segment_html/pdf/plain  A3 block segmentation
    _score_and_keep      A6 classify
    segment_spans        A4 span segmentation
    chartables.score_spans  span scoring
    """
    from ocrflow import chartables, kernel, reference
    return [
        (kernel, "extract_batch", "kernel.extract_batch"),
        (reference, "extract_turn_arrays", "reference.stitch"),
        (reference, "detect_payload_kind", "reference.sniff"),
        (reference, "segment_html", "reference.segment_html"),
        (reference, "segment_pdf", "reference.segment_pdf"),
        (reference, "segment_plain", "reference.segment_plain"),
        (reference, "_score_and_keep", "reference.classify", _count_blocks),
        (reference, "segment_spans", "reference.segment_spans"),
        (chartables, "score_spans", "chartables.score_spans"),
    ]


class KernelReplay:
    """Result of :func:`replay_kernel`: one traced recorder summed over
    the traced rounds, the untraced walls, and the equality verdict."""

    def __init__(self, rounds: int, turns: int, batches: int) -> None:
        self.rounds = rounds
        self.turns = turns
        self.batches = batches
        self.recorder = SpanRecorder()
        self.plain_s: list[float] = []       # wall per untraced round
        self.plain_cpu_s: list[float] = []   # process CPU per untraced round
        self.traced_s: list[float] = []      # outer wall per traced round
        self.batch_ms: list[float] = []      # untraced extract_batch walls
        self.mismatched_batches = 0

    def per_round(self, label: str) -> float:
        return self.recorder.self_time(label) / self.rounds

    @property
    def overhead_frac(self) -> float:
        """Best traced round over best untraced round, minus one: the
        work is identical, so the fastest rounds carry the least noise."""
        return min(self.traced_s) / min(self.plain_s) - 1.0


def replay_kernel(batches, weights, rounds: int = 3) -> KernelReplay:
    """Replay ``kernel.extract_batch`` untraced and traced, ``rounds``
    times after one untimed warm-up pass, alternating which side goes
    first so drift in host speed hits both sides alike."""
    from ocrflow import kernel

    rep = KernelReplay(rounds, sum(b.num_rows for b in batches), len(batches))

    def plain():
        c0, t0 = time.process_time(), time.perf_counter()
        outs = []
        for b in batches:
            tb = time.perf_counter()
            outs.append(kernel.extract_batch(b, weights))
            rep.batch_ms.append((time.perf_counter() - tb) * 1e3)
        rep.plain_s.append(time.perf_counter() - t0)
        rep.plain_cpu_s.append(time.process_time() - c0)
        return outs

    def traced():
        with rep.recorder.patched(kernel_targets()):
            t0 = time.perf_counter()
            outs = [kernel.extract_batch(b, weights) for b in batches]
            rep.traced_s.append(time.perf_counter() - t0)
        return outs

    for b in batches:
        kernel.extract_batch(b, weights)
    for r in range(rounds):
        if r % 2:
            t_out, p_out = traced(), plain()
        else:
            p_out, t_out = plain(), traced()
        rep.mismatched_batches += sum(not p.equals(t) for p, t in zip(p_out, t_out))
    return rep
