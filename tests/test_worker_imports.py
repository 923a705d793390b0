"""Zip-directory re-reads on ``importlib.invalidate_caches()`` (the patch
installed by ``ner_spark/__init__.py``). A PySpark worker calls it before
every task; an unchanged archive must not be re-parsed, a rewritten one
must be."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

import ner_spark  # noqa: F401 — installs the patch
from ner_spark.nlp.stage import detect_mentions


def _write_zip(path, source: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("zipped_probe_mod.py", source)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipped_probe_mod", raising=False)
    import zipped_probe_mod

    assert zipped_probe_mod.VALUE == 1

    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, "VALUE = 2  # rewritten\n")
    importlib.invalidate_caches()
    del sys.modules["zipped_probe_mod"]
    import zipped_probe_mod

    assert reads.count(archive) == 1
    assert zipped_probe_mod.VALUE == 2


def test_worker_runs_the_patch(spark, small_inputs):
    """After an NLP job, the workers that imported ner_spark run the patched
    invalidate_caches on every later task."""
    detect_mentions(
        small_inputs["transcripts"], small_inputs["gazetteer_pdf"], spark
    ).count()

    # a nested function is pickled by value, so unpickling it imports
    # nothing from ner_spark
    def probe(batches):
        import sys
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame({
            "loaded": ["ner_spark" in sys.modules],
            "patched": [
                zipimport.zipimporter.invalidate_caches.__module__ == "ner_spark"
            ],
            "old_python": [sys.version_info < (3, 13)],
        })

    rows = (
        spark.range(0, 8, numPartitions=8)
        .mapInPandas(probe, "loaded boolean, patched boolean, old_python boolean")
        .collect()
    )
    loaded = [r for r in rows if r.loaded]
    assert loaded
    assert all(r.patched for r in loaded if r.old_python)
