"""Runtime BLAS thread pinning for Arrow-batched kernels.

Why this exists: every Python worker process that loads numpy gets an
OpenBLAS pool sized to the machine (32 threads here). With 32 Arrow
workers running mapInPandas/applyInPandas kernels concurrently that is
32 x 32 = 1024 BLAS threads contending for 32 cores — the classic
oversubscription collapse for matmul-shaped kernels (sim_opq_topk and
friends). The parallelism budget already belongs to Spark's task
scheduler; inside a kernel each dgemm should be single-threaded.

threadpoolctl is not in the image, so this is the minimal portable
equivalent: scan /proc/self/maps for loaded BLAS shared objects and
call their runtime set-num-threads entry points via ctypes. Call
``pin_blas_threads()`` as the FIRST statement inside every kernel body
that touches numpy — the kernel closure carries this module as a
global, so cloudpickle imports it on the worker automatically.

Cost: a shared object gets mapped by an import, so the maps scan runs
again only when ``len(sys.modules)`` has changed since the last scan;
otherwise a call is one length compare. Measured on a 4-core x86 host
(Python 3.11, a driver process with ~680 mappings): every call used to
rescan and cost 16-20 ms, dominated by a backtracking regex over every
line; now the first call (or one after an import) scans in ~1 ms and a
repeat call costs well under a microsecond. The driver makes ~10 calls
per catalog pass (``session.ensure_engine_confs``), and the
``applyInPandas`` kernels make one per group on the workers.
"""

from __future__ import annotations

import ctypes
import re
import sys

# Paths already pinned successfully in this process. Keyed per library
# (not a single process-wide latch): a BLAS loaded AFTER the first call
# — e.g. a second implementation pulled in by a later import — still
# gets pinned on the first call after that import, and a call where no
# setter succeeded (numpy missing, /proc absent) is retried after the
# next import instead of latching all future calls off.
_PINNED_PATHS: set[str] = set()

# len(sys.modules) when /proc/self/maps was last scanned; -1 = never.
# Extension modules map their shared objects when imported, and every
# import adds to sys.modules, so an unchanged length means the last
# scan's answer still holds. (A BLAS dlopened through ctypes alone,
# outside any import, is picked up at the next import.)
_SCANNED_AT_MODULES = -1

# Known runtime thread-count setters across BLAS implementations.
# numpy wheels bundle openblas64_ (suffixed symbols); distro numpy may
# link plain openblas; MKL/BLIS included for portability off this box.
_SETTERS = (
    "openblas_set_num_threads64_",
    "openblas_set_num_threads",
    "goto_set_num_threads",
    "MKL_Set_Num_Threads",
    "bli_thread_set_num_threads",
)

# Matching getters (best effort; used by the test hook only).
_GETTERS = (
    "openblas_get_num_threads64_",
    "openblas_get_num_threads",
    "MKL_Get_Max_Threads",
    "bli_thread_get_num_threads",
)

_LIB_RE = re.compile(
    r"(/\S+(?:openblas|libmkl_rt|libblis|libblas)\S*\.so\S*)", re.IGNORECASE
)
# Substrings every _LIB_RE match contains: a cheap test that skips the
# regex, which backtracks at every "/" of a line, on non-BLAS mappings.
_LIB_HINTS = ("blas", "mkl_rt", "blis")


def _loaded_blas_libs():
    """dlopen every BLAS shared object currently mapped into this
    process (numpy import guarantees at least its bundled one)."""
    libs = []
    try:
        import numpy  # noqa: F401

        with open("/proc/self/maps") as fh:
            paths = {
                m.group(1)
                for line in fh
                if any(h in line.lower() for h in _LIB_HINTS)
                for m in [_LIB_RE.search(line)]
                if m
            }
        for path in sorted(paths):
            try:
                libs.append((path, ctypes.CDLL(path)))
            except OSError:
                continue
    except Exception:
        pass
    return libs


def pin_blas_threads(n: int = 1) -> None:
    """Clamp every loaded BLAS runtime in this process to ``n`` threads.

    Safe to call unconditionally: each library is pinned once (per-path
    memo, so a BLAS loaded later still gets pinned by a later call),
    no-op on platforms without /proc, never raises. A call with no
    module loaded since the previous scan returns without scanning.
    """
    global _SCANNED_AT_MODULES
    if len(sys.modules) == _SCANNED_AT_MODULES:
        return
    libs = _loaded_blas_libs()  # imports numpy, so count modules after it
    _SCANNED_AT_MODULES = len(sys.modules)
    for path, lib in libs:
        if path in _PINNED_PATHS:
            continue
        pinned = False
        for sym in _SETTERS:
            fn = getattr(lib, sym, None)
            if fn is not None:
                try:
                    fn(ctypes.c_int(n))
                    pinned = True
                except Exception:
                    pass
        if pinned:
            _PINNED_PATHS.add(path)


def blas_thread_counts() -> dict[str, int]:
    """Report current thread counts per loaded BLAS lib (test hook)."""
    out: dict[str, int] = {}
    for path, lib in _loaded_blas_libs():
        for sym in _GETTERS:
            fn = getattr(lib, sym, None)
            if fn is not None:
                try:
                    fn.restype = ctypes.c_int
                    out[path] = int(fn())
                except Exception:
                    continue
                break
    return out
