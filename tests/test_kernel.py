"""The Arrow extraction kernel runs A6 classify, A4 span segmentation
and span scoring once per batch, not once per turn (no Spark needed)."""

import collections

import pyarrow as pa

from ocrflow import chartables as ct
from ocrflow import kernel, synth
from ocrflow import reference as R


def test_batch_stages_run_once_per_batch(monkeypatch):
    rows = synth.gen_rows(60, seed=11, monster_every=0)
    batch = pa.RecordBatch.from_pylist(
        [{k: r[k] for k in ("conv_id", "turn_idx", "text", "role")} for r in rows])
    calls = collections.Counter()

    def counted(owner, name):
        fn = getattr(owner, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        monkeypatch.setattr(owner, name, wrapper)

    counted(R, "_score_and_keep")
    counted(R, "segment_spans")
    counted(ct, "score_spans")
    out = kernel.extract_batch(batch, ct.default_weights())
    assert out.num_rows == len(rows)
    assert calls == {"_score_and_keep": 1, "segment_spans": 1, "score_spans": 1}
