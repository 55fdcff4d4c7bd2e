"""The Arrow extraction kernel runs A6 classify, A4 span segmentation
and span scoring once per batch, not once per turn, and each task drops
the zip importers from the import cache first (no Spark needed)."""

import collections
import importlib
import sys
import types
import zipfile
import zipimport

import pyarrow as pa

from ocrflow import chartables as ct
from ocrflow import kernel, synth
from ocrflow import reference as R


def _batch(n, seed):
    rows = synth.gen_rows(n, seed=seed, monster_every=0)
    return pa.RecordBatch.from_pylist(
        [{k: r[k] for k in ("conv_id", "turn_idx", "text", "role")} for r in rows])


def test_batch_stages_run_once_per_batch(monkeypatch):
    batch = _batch(60, seed=11)
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
    assert out.num_rows == batch.num_rows
    assert calls == {"_score_and_keep": 1, "segment_spans": 1, "score_spans": 1}


def _zip_importers(archive):
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter) and p.startswith(archive)]


def test_drop_zip_importers(tmp_path, monkeypatch):
    pkg = "ocrflow_ziptest_pkg"
    archive = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/a.py", "A = 1\n")
        z.writestr(f"{pkg}/b.py", "B = 2\n")
    reads = collections.Counter()
    read_directory = zipimport._read_directory

    def counted(path):
        reads[path] += 1
        return read_directory(path)

    saved_path = list(sys.path)
    try:
        sys.path.insert(0, archive)
        importlib.import_module(f"{pkg}.a")
        # one importer for the archive, one for the package inside it
        assert len(_zip_importers(archive)) == 2
        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        assert reads[archive] == 2  # what each task paid before the drop

        reads.clear()
        kernel._drop_zip_importers()
        assert not [f for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)]
        importlib.invalidate_caches()
        assert sum(reads.values()) == 0
        assert importlib.import_module(f"{pkg}.b").B == 2
        assert sum(reads.values()) == 0  # zipimport's directory cache
    finally:
        sys.path[:] = saved_path
        for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
            del sys.modules[name]
        for path in _zip_importers(archive):
            del sys.path_importer_cache[path]


def test_kernel_drops_zip_importers_once_per_task(monkeypatch):
    batches = [_batch(40, seed=5), _batch(25, seed=6)]
    weights = ct.default_weights()
    calls = []
    monkeypatch.setattr(kernel, "_drop_zip_importers",
                        lambda: calls.append(1))
    seen_at_pull = []

    def task_input():
        for b in batches:
            seen_at_pull.append(len(calls))
            yield b

    fn = kernel.make_kernel(types.SimpleNamespace(value=weights))
    for task in (1, 2):
        out = list(fn(task_input()))
        assert len(calls) == task
        assert [o.equals(kernel.extract_batch(b, weights))
                for o, b in zip(out, batches)] == [True, True]
    # the drop runs before the task pulls its first batch
    assert seen_at_pull == [1, 1, 2, 2]
