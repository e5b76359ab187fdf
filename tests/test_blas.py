"""BLAS thread pinning: the driver pin holds, a repeat call is O(1),
and Python workers run one BLAS thread without a pin."""

from __future__ import annotations

import builtins
import sys

from gcpdatapipelines_spark import blas


def test_repeat_pin_skips_maps_scan_until_a_module_loads(monkeypatch, tmp_path):
    """A repeat pin_blas_threads() call reads no /proc/self/maps; the
    first call after an import rescans, so a BLAS that the import
    mapped would still get pinned."""
    scans = []

    def counting_open(path, *args, **kwargs):
        if path == "/proc/self/maps":
            scans.append(path)
        return builtins.open(path, *args, **kwargs)

    # module globals shadow builtins: blas's open() resolves here
    monkeypatch.setattr(blas, "open", counting_open, raising=False)
    monkeypatch.setattr(blas, "_SCANNED_AT_MODULES", -1)

    blas.pin_blas_threads()
    assert len(scans) == 1
    for _ in range(3):
        blas.pin_blas_threads()
    assert len(scans) == 1

    name = "graft_blas_probe_module"
    (tmp_path / f"{name}.py").write_text("VALUE = 1\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    try:
        __import__(name)
        blas.pin_blas_threads()
        assert len(scans) == 2
        blas.pin_blas_threads()
        assert len(scans) == 2
    finally:
        sys.modules.pop(name, None)

    counts = blas.blas_thread_counts()
    assert counts, "expected at least one loaded BLAS runtime"
    assert all(v == 1 for v in counts.values()), counts


def test_worker_blas_pinned_to_one_thread(spark):
    """PySpark starts Python workers with OMP_NUM_THREADS =
    spark.task.cpus, so a kernel that never pins must still report a
    single-thread BLAS pool."""
    def kern(batches):
        import pandas as pd

        from gcpdatapipelines_spark.blas import blas_thread_counts

        counts = list(blas_thread_counts().values())
        for _ in batches:
            pass
        yield pd.DataFrame({"n": [max(counts) if counts else -1]})

    rows = (
        spark.range(8)
        .repartition(4)
        .mapInPandas(kern, "n INT")
        .collect()
    )
    assert rows and all(r["n"] == 1 for r in rows), rows
