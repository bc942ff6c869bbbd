"""Python-worker entry module for traced benchmark runs.

Spark starts its Python workers from ``spark.python.worker.module`` (the
worker daemon accepts only module names that start with ``pyspark``).
This module runs ``pyspark.worker`` unchanged, but first wraps two
functions in each worker process to count the per-worker decode cache of
``operators.extract``:

* every call of ``extract._decode_chunk_cached`` is a lookup;
* every ``kernels.decode_chunk`` call made inside a lookup is a miss.

After each lookup the worker writes its two running counts (two
little-endian int64) to ``$PERFBENCH_DECODE_COUNTS/<pid>``; the benchmark
driver sums those files before and after each traced step.
"""

from __future__ import annotations

import os
import struct

from pyspark.worker import main as _worker_main

_installed_in = None  # pid that installed the counters (daemon workers fork)


def _install() -> None:
    global _installed_in
    if _installed_in == os.getpid():
        return
    _installed_in = os.getpid()
    out_dir = os.environ.get("PERFBENCH_DECODE_COUNTS")
    if not out_dir:
        return
    from rasterkit_spark import kernels as K
    from rasterkit_spark.operators import extract as EX

    fd = os.open(os.path.join(out_dir, str(os.getpid())),
                 os.O_WRONLY | os.O_CREAT, 0o644)
    counts = [0, 0]  # lookups, misses
    inside = [False]
    cached, decode = EX._decode_chunk_cached, K.decode_chunk

    def counted_lookup(*args, **kwargs):
        inside[0] = True
        try:
            return cached(*args, **kwargs)
        finally:
            inside[0] = False
            counts[0] += 1
            os.pwrite(fd, struct.pack("<qq", *counts), 0)

    def counted_decode(*args, **kwargs):
        if inside[0]:
            counts[1] += 1
        return decode(*args, **kwargs)

    EX._decode_chunk_cached = counted_lookup
    K.decode_chunk = counted_decode


def main(infile, outfile):
    _install()
    return _worker_main(infile, outfile)

