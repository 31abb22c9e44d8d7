"""Run independent driver-side steps concurrently.

A Spark action blocks its calling thread until the job ends, so two
actions over disjoint tables (a local and a source watermark probe, two
side-table writes) serialize on the driver even when the cluster has
idle slots. Submitting each from its own thread lets the second job's
tasks fill the first one's tail.

This is the one place the package starts threads, so the load's steps
share a single seam for per-step tracing and crash injection.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable


def overlap(*fns: Callable[[], Any]) -> tuple:
    """Run each callable on its own worker; return their results in
    argument order.

    Every callable finishes before this returns or raises, so a caller's
    failure handling never races a step still in flight. When several
    fail, the exception of the first failing one in argument order is
    raised."""
    with ThreadPoolExecutor(max_workers=len(fns) or 1) as pool:
        futures = [pool.submit(fn) for fn in fns]
    return tuple(f.result() for f in futures)
