"""Query-scoped execution helpers.

``overlap`` runs independent job chains of one query from a small
thread pool, so one chain's eager jobs (checkpoints, writes, collects)
and straggler tails fill the cores the other leaves idle. Every
overlapped construction in the plan modules goes through it, so
per-query job tagging has one place to carry the tag into the threads.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor


def overlap(*thunks: Callable[[], object]) -> list:
    """Run the zero-argument ``thunks`` concurrently and return their
    results in argument order. If any raises, waits for the rest and
    re-raises the exception of the first failing thunk in argument
    order."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]
