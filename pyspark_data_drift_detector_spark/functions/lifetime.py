"""What a drift run caches, and the threads it fans out on: ``keep``
persists a frame for the enclosing ``owned_run``, which unpersists it on
exit, ``owned_result`` gives a standalone builder a run of its own, and
``collect_local`` materializes results on threads that carry
the caller's job group and tags, as local relations that hold no block."""

from __future__ import annotations

import contextlib
import contextvars
import functools
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

_kept: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar("kept", default=None)


def keep(df: DataFrame) -> DataFrame:
    """Persist ``df``; inside an ``owned_run`` it is released when the run exits."""
    if (kept := _kept.get()) is not None:
        kept.append(df)
    return df.persist(StorageLevel.MEMORY_AND_DISK)


@contextlib.contextmanager
def owned_run():
    """Unpersist, on exit, every frame kept inside; also usable as a decorator."""
    token = _kept.set([])
    try:
        yield
    finally:
        for df in _kept.get():
            df.unpersist(blocking=False)
        _kept.reset(token)


def owned_result(build):
    """Decorate a builder so nothing it keeps outlives its result: inside an
    ``owned_run`` what it keeps joins that run; outside one it runs in its
    own, and a result built over kept frames returns as a local relation."""

    @functools.wraps(build)
    def wrapper(*args, **kwargs) -> DataFrame:
        if _kept.get() is not None:
            return build(*args, **kwargs)
        with owned_run():
            df = build(*args, **kwargs)
            if _kept.get():
                (df,) = collect_local([df])
        return df

    return wrapper


def collect_local(items: list) -> list[DataFrame]:
    """Materialize each frame, or the frame each builder returns,
    concurrently, and return them in order as local relations."""

    def local(item) -> DataFrame:
        df = item if isinstance(item, DataFrame) else item()
        return df.sparkSession.createDataFrame(df.toArrow(), df.schema)

    # One wrapper, and so one clone of the caller's local properties, per
    # item: a running query rewrites its thread's properties (execution id,
    # session confs) and restores them on exit, which must not reach another
    # item's query. A context is entered by one thread at a time; the copies
    # share the kept list.
    session = SparkSession.active()
    calls = [
        functools.partial(contextvars.copy_context().run, inheritable_thread_target(session)(local), item)
        for item in items
    ]
    with ThreadPoolExecutor(max_workers=len(calls) or 1) as pool:
        return list(pool.map(lambda call: call(), calls))
